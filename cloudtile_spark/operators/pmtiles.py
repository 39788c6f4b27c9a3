"""PMTiles v3 single-file archive writer/reader (pure Python, public spec:
github.com/protomaps/PMTiles/blob/main/spec/v3).

The reference's terminal artifact is a ``.pmtiles`` file produced by
tippecanoe (reference src/cloudtile/geofile.py:239-250; output naming
``stem-{minzoom}-{maxzoom}[-suffix].pmtiles``, geofile.py:278-296). This
module assembles the same artifact from the engine's tiles DataFrame.

Scale note: the archive format is inherently a single serial file with a
global directory — assembly is a DRIVER-side step over the (already
aggregated, capped) tile payloads, exactly as cloudtile treats it (an
artifact, not a table). The scalable output is the z-partitioned MVT table
(operators/mvt.py + plans/lineage.py); this sink exists for artifact parity.

Implemented subset: v3 header, root directory with LEAF-directory spill for
large archives (root entries with run_length=0 point into the leaf
section, per spec §4), no internal compression (matching the reference's
active `no-tile-compression` default, tippecanoe.yaml:112), clustered tile
ordering by tile_id (Hilbert), run-length coalescing of identical
consecutive tiles, and offset dedup for byte-identical payloads.

Assembly is STREAMED: ``write_pmtiles_stream`` consumes a tid-sorted
iterator (the CLI feeds it ``sorted_tile_stream``: one global ``orderBy``
on a tid computed in Spark SQL, walked with ``toLocalIterator`` — never a
``collect``), spills the data section to a sidecar file as it goes, and
holds only the directory entries (16 B/tile logical) plus a content-hash
dedup map in driver memory — a z0-z12 pyramid (~1.5M tiles) assembles in
O(entries) memory, not O(bytes). Tile payloads arrive one AQE-coalesced
range partition at a time: about max(AQE's coalescing byte target, archive
bytes / ``spark.sql.shuffle.partitions``) of payload, never less than one
tile.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
from typing import Iterable, Iterator

import numpy as np

from .. import tiles

MAGIC = b"PMTiles"
VERSION = 3
HEADER_LEN = 127
COMPRESSION_NONE = 1
TILETYPE_MVT = 1
# spill to leaf directories above this many entries (spec recommends the
# root stay ~16 KB; 4096 entries keeps it well under at worst-case varint
# width) and pack this many tile entries per leaf
MAX_ROOT_ENTRIES = 4096
LEAF_ENTRIES = 8192


def tile_id(z: int, x: int, y: int) -> int:
    """Cumulative Hilbert tile id (spec: sum of tiles above + hilbert)."""
    acc = (4 ** z - 1) // 3  # sum_{i<z} 4^i
    return acc + int(tiles.hilbert_d(z, np.array([x]), np.array([y]))[0])


# tile_id over a frame's (z, x, y) columns, in Spark SQL
TILE_ID_SQL = ("(shiftleft(1L, 2 * z) - 1) div 3 + "
               + tiles.hilbert_d_sql("z", "x", "y"))


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def _encode_directory(entries: list[tuple[int, int, int, int]]) -> bytes:
    """entries: (tile_id, offset, length, run_length), sorted by tile_id.
    Spec layout: n, delta tile_ids, run_lengths, lengths, offsets(+1 or 0
    for 'offset = prev offset + prev length')."""
    out = bytearray()
    out += _varint(len(entries))
    last = 0
    for tid, _, _, _ in entries:
        out += _varint(tid - last)
        last = tid
    for _, _, _, rl in entries:
        out += _varint(rl)
    for _, _, ln, _ in entries:
        out += _varint(ln)
    prev_off = prev_len = None
    for _, off, ln, _ in entries:
        if prev_off is not None and off == prev_off + prev_len:
            out += _varint(0)
        else:
            out += _varint(off + 1)
        prev_off, prev_len = off, ln
    return bytes(out)


def _decode_directory(buf: bytes) -> list[tuple[int, int, int, int]]:
    pos = 0
    n, pos = _read_varint(buf, pos)
    tids, rls, lens, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, pos = _read_varint(buf, pos)
        last += d
        tids.append(last)
    for _ in range(n):
        v, pos = _read_varint(buf, pos)
        rls.append(v)
    for _ in range(n):
        v, pos = _read_varint(buf, pos)
        lens.append(v)
    prev_off = prev_len = 0
    for i in range(n):
        v, pos = _read_varint(buf, pos)
        off = prev_off + prev_len if v == 0 else v - 1
        offs.append(off)
        prev_off, prev_len = off, lens[i]
    return list(zip(tids, offs, lens, rls))


def tilestats(features_df, settings=None) -> dict:
    """tippecanoe-style ``tilestats`` metadata (the tile-stats-* options,
    reference tippecanoe.yaml:113-116): per-layer attribute inventory with
    sampled values, computed as one Spark aggregation over the feature
    table (posexplode the props map -> per-key feature count, entry count
    and bounded distinct sample); the key order and attribute limit are
    applied on the driver.

    Honors: no-tile-stats (returns {}), tile-stats-attributes-limit,
    tile-stats-values-limit (tippecanoe defaults 1000 / 100).
    """
    from pyspark.sql import functions as F

    from ..settings import TilingSettings, layer_name

    settings = settings if settings is not None else TilingSettings()
    if settings.get("no-tile-stats"):
        return {}
    attr_limit = int(settings.get("tile-stats-attributes-limit") or 1000)
    val_limit = int(settings.get("tile-stats-values-limit")
                    or settings.get("tile-stats-sample-values-limit")
                    or 100)
    if "props" not in features_df.columns:
        attributes, count = [], features_df.count()
    else:
        # one aggregation: every feature has exactly one row with pos 0
        # (or a null pos, when its props are empty or null)
        pos = F.col("pos")
        groups = (
            features_df.select(F.posexplode_outer("props"))
            .groupBy("key")
            .agg(F.count_if((pos == 0) | pos.isNull()).alias("nf"),
                 F.count("key").alias("n"),
                 F.slice(F.sort_array(F.collect_set("value")), 1, val_limit)
                  .alias("vals"))
            .collect()
        )
        count = sum(r.nf for r in groups)
        rows = sorted((r for r in groups if r.key is not None),
                      key=lambda r: r.key)[:attr_limit]
        descs = settings.get("attribute-description") or {}
        attributes = [
            {"attribute": r.key, "count": r.n, "type": "string",
             "values": list(r.vals),
             **({"description": descs[r.key]} if r.key in descs else {})}
            for r in rows
        ]
    return {
        "layerCount": 1,
        "layers": [{
            "layer": layer_name(settings),
            "count": count,
            "geometry": "Point",
            "attributeCount": len(attributes),
            "attributes": attributes,
        }],
    }


def write_pmtiles_stream(
    path: str,
    sorted_tiles: Iterable[tuple[int, bytes]],
    minzoom: int,
    maxzoom: int,
    metadata: dict | None = None,
) -> dict:
    """Assemble a PMTiles v3 archive from a tid-ASCENDING stream of
    (tile_id, mvt_bytes) without materializing tile payloads in memory.

    Data section spills to ``path + ".data"`` while streaming; driver
    memory holds the directory entries plus a sha256->offset dedup map
    (collision-resistant: md5 collisions are practically constructible and
    would silently serve the wrong tile bytes on offset reuse).
    Consecutive tids with identical payloads coalesce into one run-length
    entry; non-adjacent identical payloads share bytes via offset reuse.
    Directories: single root when entries <= MAX_ROOT_ENTRIES, else leaf
    directories of LEAF_ENTRIES each with a root of leaf pointers
    (run_length = 0, offset into the leaf section — spec v3 §4).

    Returns counters {n_addressed, n_entries, n_contents, leaves}.
    """
    tmp = path + ".data"
    entries: list[tuple[int, int, int, int]] = []
    seen: dict[bytes, tuple[int, int]] = {}
    data_len = 0
    n_addressed = 0
    last_tid = -1
    with open(tmp, "wb") as df:
        for tid, blob in sorted_tiles:
            tid, blob = int(tid), bytes(blob)
            if tid <= last_tid:
                raise ValueError(
                    f"tile stream not strictly tid-ascending at {tid}")
            last_tid = tid
            n_addressed += 1
            digest = hashlib.sha256(blob).digest()
            hit = seen.get(digest)
            if hit is None:
                off, ln = data_len, len(blob)
                df.write(blob)
                data_len += ln
                seen[digest] = (off, ln)
            else:
                off, ln = hit
            if entries:
                ptid, poff, pln, prl = entries[-1]
                if tid == ptid + prl and off == poff and ln == pln:
                    entries[-1] = (ptid, poff, pln, prl + 1)
                    continue
            entries.append((tid, off, ln, 1))

    if len(entries) <= MAX_ROOT_ENTRIES:
        root = _encode_directory(entries)
        leaves = b""
        n_leaves = 0
    else:
        leaf_blobs: list[bytes] = []
        root_entries: list[tuple[int, int, int, int]] = []
        leaf_off = 0
        for i in range(0, len(entries), LEAF_ENTRIES):
            chunk = entries[i:i + LEAF_ENTRIES]
            blob = _encode_directory(chunk)
            # run_length 0 marks a leaf pointer; offset is into the leaf
            # directory section
            root_entries.append((chunk[0][0], leaf_off, len(blob), 0))
            leaf_blobs.append(blob)
            leaf_off += len(blob)
        root = _encode_directory(root_entries)
        leaves = b"".join(leaf_blobs)
        n_leaves = len(leaf_blobs)

    meta = json.dumps(metadata or {"name": "cloudtile_spark"}).encode()
    root_off = HEADER_LEN
    meta_off = root_off + len(root)
    leaf_off = meta_off + len(meta)
    data_off = leaf_off + len(leaves)

    # spec v3 header: exactly 127 bytes —
    # magic(7) version(1), 11 x u64 (root off/len, meta off/len, leaf
    # off/len, data off/len, n_addressed, n_entries, n_contents),
    # clustered(1), internal_compression(1), tile_compression(1),
    # tile_type(1), minzoom(1), maxzoom(1), 4 x i32 E7 bounds,
    # center_zoom(1), 2 x i32 E7 center
    header = struct.pack(
        "<7sB" "11Q" "BBBBBB" "iiii" "B" "ii",
        MAGIC, VERSION,
        root_off, len(root),
        meta_off, len(meta),
        leaf_off, len(leaves),
        data_off, data_len,
        n_addressed, len(entries), len(seen),
        1, COMPRESSION_NONE, COMPRESSION_NONE, TILETYPE_MVT,
        minzoom, maxzoom,
        int(-180 * 1e7), int(-85.05113 * 1e7),
        int(180 * 1e7), int(85.05113 * 1e7),
        minzoom, 0, 0,
    )
    assert len(header) == HEADER_LEN, len(header)
    with open(path, "wb") as f:
        f.write(header)
        f.write(root)
        f.write(meta)
        f.write(leaves)
        with open(tmp, "rb") as src:
            shutil.copyfileobj(src, f, length=1 << 20)
    os.remove(tmp)
    return {"n_addressed": n_addressed, "n_entries": len(entries),
            "n_contents": len(seen), "leaves": n_leaves}


def write_pmtiles(
    path: str,
    tile_rows: list[tuple[int, int, int, bytes]],
    minzoom: int,
    maxzoom: int,
    metadata: dict | None = None,
) -> None:
    """tile_rows: (z, x, y, mvt_bytes). In-memory list convenience wrapper
    over the streaming writer (tests / small archives). Tile ids are
    :func:`tile_id`'s, computed with one ``hilbert_d`` call per zoom."""
    z, x, y = (np.array([r[i] for r in tile_rows], dtype=np.int64)
               for i in range(3))
    tid = (4 ** z - 1) // 3
    for level in np.unique(z):
        at = z == level
        tid[at] += tiles.hilbert_d(int(level), x[at], y[at])
    entries_raw = sorted(
        zip(tid.tolist(), (bytes(r[3]) for r in tile_rows)))
    write_pmtiles_stream(path, entries_raw, minzoom, maxzoom, metadata)


def sorted_tile_stream(tiles_df) -> Iterator[tuple[int, bytes]]:
    """tiles(z, x, y, mvt) DataFrame -> tid-ascending (tile_id, bytes)
    iterator WITHOUT a driver collect: ``TILE_ID_SQL`` computes tile ids in
    the JVM, one global ``orderBy("tid")`` range-shuffles the frame into
    ``spark.sql.shuffle.partitions`` sorted ranges, and AQE merges
    contiguous ranges up to its coalescing byte target (at most
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``; merging keeps
    range order). ``toLocalIterator`` then walks the coalesced partitions
    in order, one Spark job each: a small archive streams from one
    partition in one job, and a large one holds one coalesced partition of
    payloads in driver memory at a time — about max(byte target, archive
    bytes / shuffle partitions), never less than one tile — so archive
    size is bounded by disk, not driver heap."""
    from pyspark.sql import functions as F

    ordered = tiles_df.select(F.expr(TILE_ID_SQL).alias("tid"), "mvt") \
        .orderBy("tid")
    for row in ordered.toLocalIterator():
        yield int(row.tid), bytes(row.mvt)


def read_pmtiles(path: str) -> dict:
    """Parse header + root directory + all tiles -> {(z,x,y)? no — tile_id:
    bytes} plus header fields. The inverse used by the roundtrip tests."""
    with open(path, "rb") as f:
        buf = f.read()
    magic, version = struct.unpack_from("<7sB", buf, 0)
    assert magic == MAGIC and version == VERSION
    fields = struct.unpack_from("<11Q", buf, 8)
    (root_off, root_len, meta_off, meta_len, leaf_off, leaf_len,
     data_off, data_len, n_addr, n_entries, n_contents) = fields
    tail = struct.unpack_from("<BBBBBB" "iiii" "Bii", buf, 8 + 11 * 8)
    root = _decode_directory(buf[root_off:root_off + root_len])
    tiles_out = {}

    def _load(entries: list[tuple[int, int, int, int]]) -> None:
        for tid, off, ln, rl in entries:
            if rl == 0:  # leaf-directory pointer (offset into leaf section)
                leaf = _decode_directory(
                    buf[leaf_off + off:leaf_off + off + ln])
                _load(leaf)
                continue
            for r in range(rl):
                tiles_out[tid + r] = buf[data_off + off:data_off + off + ln]

    _load(root)
    return {
        "minzoom": tail[4], "maxzoom": tail[5],
        "tile_type": tail[3],
        "metadata": json.loads(buf[meta_off:meta_off + meta_len] or b"{}"),
        "tiles": tiles_out,
        "n_contents": n_contents,
        "n_entries": n_entries,
        "n_addressed": n_addr,
        "leaf_len": leaf_len,
    }
