"""Mapbox-Vector-Tile (MVT) encoding as a per-tile Arrow operator — the
engine's replacement for tippecanoe's tile serializer (reference invokes it
at src/cloudtile/geofile.py:224-234; `no-tile-compression` default keeps
tiles as raw protobuf, reference tippecanoe.yaml:112).

The MVT wire format is public (Mapbox vector-tile spec 2.1): protobuf with
varint/zigzag geometry commands (MoveTo=1/LineTo=2/ClosePath=7), layer
extent 4096. A minimal pure-Python protobuf writer/reader lives here — no
external deps.

Two entry points, one per input contract, that differ only in the cover
step: ``encode_point_tiles`` (feature_id, lon, lat) explodes zooms and
computes tile xy as column math; ``encode_geom_tiles`` (feature_id,
geom_type, geom_wkb) runs ``tile_cover``. Everything else is shared:

- one settings reader, ``_TileOptions``: both sources honour the same
  tiling settings (filters, drop-rate, detail, ordering, tags, ids, cap,
  byte budget). The exceptions are ``single-precision`` (a float32 cast)
  and EPSG:3857 input (an inverse-mercator reprojection): both are math on
  the lon/lat columns, so they apply to point sources only;
- one prelude, ``_encode``: ``pyramid.tiling_input`` (projection and zoom
  range, as for every tiler), feature-filter and prefilter before the
  cover; postfilter and drop-rate/base-zoom on the cover frame;
- one tile-sorted multi-tile mapInPandas (``pyramid._map_tiles``): the
  cover frame is hash-repartitioned on (z, x, y) to every core and sorted
  by tile, and each Arrow batch is cut into tile runs that each run one
  per-tile kernel, ``_encode_tile``. The kernel orders each tile's rows
  itself, so the bytes are deterministic at any parallelism.

Geometry semantics folded into the kernel (tippecanoe option parity):
- clipping to tile bounds + buffer        (yaml:81-84, default buffer=5)
- Douglas-Peucker simplification          (yaml:70, default tolerance 10,
  in tile units, applied to lines/polygons)
- tiny-polygon reduction                  (yaml:75-76: polygons under the
  size threshold become their representative point)
- per-tile feature cap in in-tile order   (yaml:105-107, read by
                                           pyramid.tile_limits)
- maximum-tile-bytes drop order           (yaml:106: encode stops adding
  features once the byte budget is hit)
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geom, tiles
from ..settings import TilingSettings, layer_name
from .borders import protect_mask, protected_nodes
from .filters import apply_feature_filter, compile_feature_filter
from .pmtiles import _read_varint, _varint  # LEB128, as in PMTiles dirs
from .pyramid import (_bbox_tiles, _map_tiles, assign_xy, explode_zooms,
                      tile_limits, tiling_input)

EXTENT = 4096
_MOVETO, _LINETO, _CLOSEPATH = 1, 2, 7
GEOM_TYPE_CODE = {"point": 1, "linestring": 2, "polygon": 3}


# ---------------------------------------------------------------------------
# minimal protobuf primitives (public wire format)
# ---------------------------------------------------------------------------

def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _geometry_commands(gtype: int, parts: Iterable[np.ndarray]) -> bytes:
    """Encode geometry command stream (deltas are zigzag varints)."""
    out = bytearray()
    cx = cy = 0
    for coords in parts:
        coords = np.asarray(coords, dtype=np.int64)
        n = len(coords)
        if n == 0:
            continue
        closed = gtype == 3
        if closed and n > 1 and (coords[0] == coords[-1]).all():
            coords = coords[:-1]
            n -= 1
        out += _varint((1 << 3) | _MOVETO)
        out += _varint(_zigzag(int(coords[0, 0] - cx)))
        out += _varint(_zigzag(int(coords[0, 1] - cy)))
        cx, cy = int(coords[0, 0]), int(coords[0, 1])
        if gtype == 1:
            continue
        if n > 1:
            out += _varint(((n - 1) << 3) | _LINETO)
            for i in range(1, n):
                out += _varint(_zigzag(int(coords[i, 0] - cx)))
                out += _varint(_zigzag(int(coords[i, 1] - cy)))
                cx, cy = int(coords[i, 0]), int(coords[i, 1])
        if closed:
            out += _varint((1 << 3) | _CLOSEPATH)
    return bytes(out)


def encode_feature(fid: int, gtype: int, parts: Iterable[np.ndarray],
                   tag_ids: list[int]) -> bytes:
    body = bytearray()
    body += _tag(1, 0) + _varint(fid)                       # id
    if tag_ids:
        tagpay = b"".join(_varint(t) for t in tag_ids)
        body += _len_field(2, tagpay)                       # tags
    body += _tag(3, 0) + _varint(gtype)                     # type
    body += _len_field(4, _geometry_commands(gtype, parts)) # geometry
    return _len_field(2, bytes(body))                       # Layer.features


def encode_layer(name: str, feature_blobs: list[bytes],
                 keys: list[str], values: list[str], extent: int) -> bytes:
    body = bytearray()
    body += _tag(15, 0) + _varint(2)                        # version
    body += _len_field(1, name.encode())                    # name
    for fb in feature_blobs:
        body += fb
    for k in keys:
        body += _len_field(3, k.encode())
    for v in values:
        # Value message: string_value field 1
        body += _len_field(4, _len_field(1, v.encode()))
    body += _tag(5, 0) + _varint(extent)                    # extent
    return _len_field(3, bytes(body))                       # Tile.layers


# ---------------------------------------------------------------------------
# decoder (for tests / fixture parity)
# ---------------------------------------------------------------------------

def decode_tile(buf: bytes) -> dict:
    """Parse one tile -> {layer_name, extent, features:[{id,type,coords}]}."""
    pos = 0
    out: dict = {}
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        assert field == 3 and wire == 2, "only Tile.layers expected"
        ln, pos = _read_varint(buf, pos)
        out = _decode_layer(buf[pos:pos + ln])
        pos += ln
    return out


def _decode_layer(buf: bytes) -> dict:
    pos = 0
    layer: dict = {"features": [], "keys": [], "values": []}
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if field == 15:
                layer["version"] = v
            elif field == 5:
                layer["extent"] = v
        else:
            ln, pos = _read_varint(buf, pos)
            payload = buf[pos:pos + ln]
            pos += ln
            if field == 1:
                layer["name"] = payload.decode()
            elif field == 2:
                layer["features"].append(_decode_feature(payload))
            elif field == 3:
                layer["keys"].append(payload.decode())
            elif field == 4:
                layer["values"].append(payload)
    return layer


def _decode_feature(buf: bytes) -> dict:
    pos = 0
    f: dict = {}
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            if field == 1:
                f["id"] = v
            elif field == 3:
                f["type"] = v
        else:
            ln, pos = _read_varint(buf, pos)
            payload = buf[pos:pos + ln]
            pos += ln
            if field == 4:
                f["geometry"] = _decode_geometry(payload)
            elif field == 2:
                f["tags"] = _decode_packed(payload)
    return f


def _decode_packed(buf: bytes) -> list[int]:
    pos, out = 0, []
    while pos < len(buf):
        v, pos = _read_varint(buf, pos)
        out.append(v)
    return out


def _decode_geometry(buf: bytes) -> list[list[tuple[int, int]]]:
    pos = 0
    cx = cy = 0
    parts: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    while pos < len(buf):
        cmd, pos = _read_varint(buf, pos)
        op, count = cmd & 7, cmd >> 3
        if op == _MOVETO:
            for _ in range(count):
                dx, pos = _read_varint(buf, pos)
                dy, pos = _read_varint(buf, pos)
                cx += _unzigzag(dx)
                cy += _unzigzag(dy)
                if cur:
                    parts.append(cur)
                cur = [(cx, cy)]
        elif op == _LINETO:
            for _ in range(count):
                dx, pos = _read_varint(buf, pos)
                dy, pos = _read_varint(buf, pos)
                cx += _unzigzag(dx)
                cy += _unzigzag(dy)
                cur.append((cx, cy))
        elif op == _CLOSEPATH:
            pass
    if cur:
        parts.append(cur)
    return parts


# ---------------------------------------------------------------------------
# the Spark operator: two entry points, one prelude, one per-tile kernel
# ---------------------------------------------------------------------------

TILE_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("feature_count", T.LongType()),
    T.StructField("mvt", T.BinaryType()),
])

# tile_cover fan-out budget: a feature whose bbox covers more tiles than
# this at a zoom is skipped at that zoom (and so at every deeper one)
_MAX_COVER_TILES = 4096


class _TileOptions:
    """Every tiling setting the encoders honour, read once per plan for a
    pyramid whose max zoom is ``maxz`` (None: every tile is a max-zoom
    tile), then shipped to the executors with the kernel. The cap and
    byte budget come from ``pyramid.tile_limits``."""

    def __init__(self, s: TilingSettings, maxz: int | None):
        self.maxz, self.layer = maxz, layer_name(s)
        self.cap, self.cap_at_max, self.max_bytes = tile_limits(s)
        # the prelude: filters, single-precision, drop-rate + base-zoom
        # (yaml:54-56; the base zoom defaults to maxz), cover variants
        self.prefilter = s.get("prefilter")
        self.postfilter = s.get("postfilter")
        self.single_precision = bool(s.get("single-precision"))
        self.drop_rate, base = s.get("drop-rate"), s.get("base-zoom")
        self.base_zoom = maxz if base in (None, "g") else int(base)
        if maxz is not None and s.get("limit-base-zoom-to-maximum-zoom"):
            self.base_zoom = min(self.base_zoom, maxz)
        self.no_duplication = bool(s.get("no-duplication"))
        self.share_borders = bool(
            s.get("detect-shared-borders")
            or s.get("no-simplification-of-shared-nodes"))
        # tile resolution (yaml:31-33): extent 2^full-detail at the max
        # zoom, 2^low-detail below it, clamped at minimum-detail
        full = int(s.get("full-detail") or 12)
        self.extent_max = 1 << full
        self.extent_low = 1 << max(int(s.get("low-detail") or full),
                                   int(s.get("minimum-detail") or 7))
        # in-tile order (yaml:85-94) and attributes (yaml:34-37, 51-52)
        self.order_key = s.get("order-by") or s.get("order-descending-by")
        self.order_desc = bool(s.get("order-descending-by"))
        self.area_desc = bool(s.get("order-largest-first"))
        self.area_order = self.area_desc or bool(s.get("order-smallest-first"))
        self.reverse = bool(s.get("reverse"))
        self.tags = not s.get("exclude-all")
        self.include, self.exclude = s.get("include"), s.get("exclude")
        self.attr_id = s.get("use-attribute-for-id")
        # geometry (yaml:57-58, 70-84, 108-109). Simplification: off with
        # no-line-simplification; at the max zoom, off with
        # simplify-only-low-zooms, else simplification-at-maximum-zoom
        # replaces the tolerance
        self.drop_lines = bool(s.get("drop-lines"))
        self.drop_polys = bool(s.get("drop-polygons"))
        no_simp = bool(s.get("no-line-simplification"))
        self.simp_low = 0.0 if no_simp else float(s.get("simplification") or 0)
        at_max = s.get("simplification-at-maximum-zoom")
        self.simp_max = self.simp_low
        if s.get("simplify-only-low-zooms"):
            self.simp_max = 0.0
        elif at_max is not None and not no_simp:
            self.simp_max = float(at_max)
        self.visvalingam = bool(s.get("visvalingam"))
        self.buffer = s.get("buffer") or 5
        # no-duplication writes the UNCLIPPED feature in its one emitting
        # tile, so it implies the no-clipping path
        self.no_clip = bool(s.get("no-clipping")) or self.no_duplication
        self.tiny = (0 if s.get("no-tiny-polygon-reduction")
                     else s.get("tiny-polygon-size") or 9)
        self.label_points = bool(s.get("convert-polygons-to-label-points"))
        self.source_winding = bool(s.get("use-source-polygon-winding"))
        self.reverse_winding = bool(s.get("reverse-source-polygon-winding"))


def encode_point_tiles(
    features: DataFrame,
    minz: int,
    maxz: int | str,
    settings: TilingSettings | None = None,
) -> DataFrame:
    """Point features (feature_id, lon, lat[, props]) -> MVT tiles for z in
    [minz, maxz]. Cover: explode zooms (narrow) -> tile xy (codegen); then
    the shared encode (``_encode``)."""
    return _encode(features, minz, maxz, settings, points=True)


def encode_geom_tiles(
    features: DataFrame,
    minz: int,
    maxz: int,
    settings: TilingSettings | None = None,
) -> DataFrame:
    """WKB features (feature_id, geom_type, geom_wkb[, props]) -> MVT tiles.
    Cover: ``tile_cover`` (an Arrow bbox pass, then zoom and tile
    explodes in the plan); then the shared encode
    (``_encode``). The encode stage receives every feature whose
    bbox touches the tile; exact clipping in the kernel discards
    bbox-only intersections."""
    return _encode(features, minz, maxz, settings, points=False)


def _encode(features: DataFrame, minz: int, maxz: int | str,
            settings: TilingSettings | None, points: bool) -> DataFrame:
    """The settings prelude and the one encode site of both encoders;
    ``points`` picks the cover step. Plan: ``pyramid.tiling_input``
    (projection and zoom range) -> feature-filter and prefilter
    (pushable predicates, before the fan-out) -> cover -> postfilter and
    drop-rate on the cover frame (which has ``z``) -> tile-sorted
    multi-tile mapInPandas over ``_encode_tile``. Deterministic at any
    parallelism: the kernel orders each tile's rows itself."""
    features, settings = tiling_input(features, settings, minz, maxz)
    minz, maxz = settings["minimum-zoom"], settings["maximum-zoom"]
    o = _TileOptions(settings, maxz)
    # feature-filter / -file (yaml:47-48) and prefilter: Catalyst
    # predicates BEFORE the fan-out, so they push toward the scan
    features = apply_feature_filter(features, settings, o.layer)
    if o.prefilter:
        features = features.filter(compile_feature_filter(
            o.prefilter, features.columns, o.layer))
    has_props = "props" in features.columns
    if o.order_key and not has_props:
        raise ValueError("order-by requires a props column")
    if points:
        # single-precision (yaml:53) is a float32 pass over the lon/lat
        # columns, so it applies to point sources only
        if o.single_precision:
            features = features.withColumn(
                "lon", F.col("lon").cast("float").cast("double")
            ).withColumn("lat", F.col("lat").cast("float").cast("double"))
        cols = ["feature_id", "lon", "lat"] + (["props"] if has_props else [])
        df = assign_xy(explode_zooms(features.select(*cols), minz, maxz))
    else:
        df = tile_cover(features, minz, maxz, no_duplication=o.no_duplication)
        if o.share_borders:
            # shared-border topology (operators/borders.py): per-feature
            # protected-vertex lists ride the cover rows into the kernel
            df = df.join(protected_nodes(features), "feature_id", "left")
    # postfilter runs on the cover frame, so it can reference $zoom
    if o.postfilter:
        df = df.filter(compile_feature_filter(o.postfilter, df.columns,
                                              o.layer))
    if o.drop_rate:
        # below the base zoom keep a deterministic hash-sample of
        # rate^(base_zoom - z) per (feature, zoom) — pure Catalyst
        df = df.filter(
            (F.col("z") >= F.lit(o.base_zoom))
            | ((F.pmod(F.xxhash64("feature_id", "z"), F.lit(1_000_000))
                / 1_000_000.0)
               < F.pow(F.lit(1.0 / float(o.drop_rate)),
                       F.lit(o.base_zoom) - F.col("z"))))

    def enc(z: int, x: int, y: int, pdf: pd.DataFrame) -> list[tuple]:
        blob, n = _encode_tile(z, x, y, pdf, o)
        return [(z, x, y, n, blob)] if n else []

    return _map_tiles(df, enc, TILE_SCHEMA)


def tile_cover(features: DataFrame, minz: int, maxz: int,
               no_duplication: bool = False) -> DataFrame:
    """Explode WKB geometries to every (z, x, y) their bbox covers; a
    ``props`` column, when present, rides along.

    One Arrow pass (mapInPandas) parses each WKB once and adds its lon/lat
    bbox; the zoom fan-out (``explode_zooms``) and the tile cover
    (``pyramid._bbox_tiles``, the points' tile math) are then JVM
    generators in the plan. Fan-out control (SURVEY §4 hard part (a)): a
    (feature, zoom) whose cover holds more than ``_MAX_COVER_TILES`` tiles
    is dropped. The cover never shrinks as z grows, so a feature is
    covered at every zoom up to the deepest that fits the budget and
    skipped deeper (the tippecanoe analogue is clip+dedup per tile;
    skipping over-budget deep zooms bounds the blow-up for
    continent-scale polygons).

    ``no_duplication`` (tippecanoe yaml: no-duplication): a feature spanning
    several tiles at a zoom is emitted ONLY in the tile containing its
    first vertex (unclipped), instead of clipped copies in every tile: its
    bbox is that vertex.
    """
    cols = ["feature_id", "geom_type", "geom_wkb"]
    src = features.select(*cols, *(["props"] if "props" in features.columns
                                   else []))
    bbox = ["_xmin", "_ymin", "_xmax", "_ymax"]
    schema = T.StructType(src.schema.fields + [
        T.StructField(c, T.DoubleType()) for c in bbox])

    def with_bbox(batches):
        for pdf in batches:
            b = np.empty((len(pdf), 4))
            for i, wkb in enumerate(pdf["geom_wkb"]):
                _, coords = geom.wkb_parse(bytes(wkb))
                b[i] = (coords[0].tolist() * 2 if no_duplication
                        else geom.polygon_bbox(coords))
            yield pdf.assign(**dict(zip(bbox, b.T)))

    cover = _bbox_tiles(
        explode_zooms(src.mapInPandas(with_bbox, schema=schema), minz, maxz),
        *bbox, max_tiles=_MAX_COVER_TILES)
    return cover.select(*cols, "z", "x", "y", *src.columns[3:])


def encode_geom_tile_batch(
    z: int, x: int, y: int,
    feats: list[tuple[int, str, bytes]],
    settings: TilingSettings,
    maxz: int | None = None,
) -> tuple[bytes, int]:
    """Encode one tile of WKB geometries (point/linestring/polygon) on the
    driver: ``_encode_tile`` over (feature_id, geom_type, wkb) tuples.
    ``maxz`` None makes (z, x, y) a max-zoom tile."""
    pdf = pd.DataFrame(feats, columns=["feature_id", "geom_type", "geom_wkb"])
    return _encode_tile(z, x, y, pdf, _TileOptions(settings, maxz))


def _encode_tile(z: int, x: int, y: int, pdf: pd.DataFrame,
                 o: _TileOptions) -> tuple[bytes, int]:
    """The one per-tile kernel: (tile bytes, features written) for the
    cover rows of tile (z, x, y). Rows are points (lon, lat) or WKB
    (geom_type, geom_wkb), with an optional ``props`` map and, for shared
    borders, ``prot_x``/``prot_y``. Point rows cost one vectorized
    ``tile_local_coords`` call; no WKB is built or parsed for them.

    Steps: drop-lines/-polygons below the max zoom (BEFORE the cap, so
    dropped rows never eat cap slots) -> in-tile order -> cap -> geometry
    to tile pixels (clip, simplify, tiny-polygon reduction, winding) ->
    tags and ids -> byte budget (stop at the first feature that would
    overflow it).
    """
    below_max = o.maxz is not None and z < o.maxz
    extent = o.extent_low if below_max else o.extent_max
    points = "geom_wkb" not in pdf.columns
    fids = pdf["feature_id"].to_numpy()
    props = pdf["props"].to_numpy() if "props" in pdf.columns else None
    codes = (np.ones(len(pdf), np.int64) if points
             else pdf["geom_type"].map(GEOM_TYPE_CODE).to_numpy(np.int64))
    rows = np.arange(len(pdf))
    if below_max and (o.drop_lines or o.drop_polys):
        rows = rows[~((o.drop_lines & (codes == 2))
                      | (o.drop_polys & (codes == 3)))]
    rows = rows[_tile_order(pdf, rows, codes, props, o)]
    rows = rows[:o.cap if below_max else o.cap_at_max]
    if points:
        px, py = tiles.tile_local_coords(
            pdf["lon"].to_numpy()[rows], pdf["lat"].to_numpy()[rows],
            z, x, y, extent=extent)
        lo, hi = -o.buffer, extent + o.buffer
        near = o.no_clip | ((lo <= px) & (px <= hi) & (lo <= py) & (py <= hi))
        shapes = ((i, 1, [np.array([[ix, iy]])])
                  for i, ix, iy, ok in zip(rows, px, py, near) if ok)
    else:
        shapes = _wkb_shapes(z, x, y, pdf, rows, codes, o, below_max, extent)
    # per-tile attribute tables (MVT layer keys/values, first-seen order);
    # include/exclude/exclude-all follow tippecanoe yaml:34-37
    keys: dict[str, int] = {}
    values: dict[tuple[str, str], int] = {}
    n_keys = n_values = total = 0
    blobs: list[bytes] = []
    for i, gcode, parts in shapes:
        pr = props[i] if props is not None else None
        tag_ids: list[int] = []
        if o.tags and pr is not None:
            for k in sorted(pr):
                if (o.include and k not in o.include) or \
                        (o.exclude and k in o.exclude):
                    continue
                tag_ids += [keys.setdefault(k, len(keys)),
                            values.setdefault((k, pr[k]), len(values))]
        fid = fids[i]
        # use-attribute-for-id (yaml:52): id from an attribute; stringified
        # numbers convert (yaml:51)
        if o.attr_id and pr is not None and o.attr_id in pr:
            fid = float(pr[o.attr_id])
        fb = encode_feature(int(fid), int(gcode), parts, tag_ids)
        if total + len(fb) > o.max_bytes:
            break
        blobs.append(fb)
        total += len(fb)
        n_keys, n_values = len(keys), len(values)
    # tables as of the last written feature: a feature the byte budget
    # dropped leaves no keys or values behind
    tile = encode_layer(o.layer, blobs, list(keys)[:n_keys],
                        [v for _, v in list(values)[:n_values]], extent)
    return tile, len(blobs)


def _tile_order(pdf: pd.DataFrame, rows: np.ndarray, codes: np.ndarray,
                props: np.ndarray | None, o: _TileOptions) -> np.ndarray:
    """Positions of ``rows`` in in-tile order (yaml:85-94), the order the
    cap keeps. Default: ascending feature_id (preserve-input-order for
    monotone ids), descending with ``reverse``. ``order-by`` /
    ``order-descending-by`` rank by a props attribute and
    ``order-smallest-first`` / ``-largest-first`` by polygon ring area,
    both id-tiebroken. Rows with equal ids tie-break on their geometry, so
    the bytes never depend on arrival order."""
    fid = pdf["feature_id"].to_numpy()[rows]
    if "geom_wkb" in pdf.columns:
        keys = [pdf["geom_wkb"].to_numpy()[rows]]
    else:
        keys = [pdf["lat"].to_numpy()[rows], pdf["lon"].to_numpy()[rows]]
    first = None
    if o.order_key and props is not None:
        attr = [(p or {}).get(o.order_key) or "" for p in props[rows]]
        first = np.unique(np.array(attr, dtype=object),
                          return_inverse=True)[1].reshape(-1)
        first = -first if o.order_desc else first
    elif o.area_order:
        wkbs = (pdf["geom_wkb"].to_numpy() if "geom_wkb" in pdf.columns
                else None)  # point rows have area 0 and no WKB
        first = np.array([
            abs(geom.shoelace_area(geom.wkb_parse(bytes(wkbs[i]))[1]))
            if codes[i] == 3 else 0.0 for i in rows], dtype=np.float64)
        first = -first if o.area_desc else first
    keys.append(-fid if first is None and o.reverse else fid)
    return np.lexsort(keys if first is None else keys + [first])


def _visvalingam(pts: np.ndarray, tol: float,
                 protect: np.ndarray | None) -> np.ndarray:
    """Visvalingam-Whyatt at the area threshold matching a Douglas-Peucker
    distance ``tol`` (tippecanoe ``visvalingam``, yaml:77)."""
    return geom.visvalingam(pts, (tol * tol) / 2.0, protect=protect)


def _wkb_shapes(z: int, x: int, y: int, pdf: pd.DataFrame, rows: np.ndarray,
                codes: np.ndarray, o: _TileOptions, below_max: bool,
                extent: int) -> Iterator[tuple[int, int, list[np.ndarray]]]:
    """(row, MVT geometry type, parts in tile pixels) for each WKB row of
    ``rows`` that survives clipping, in order.

    Clip to tile + buffer (yaml:81-84), Douglas-Peucker or
    Visvalingam-Whyatt simplification (yaml:70, 77) that never removes a
    shared-border node, tiny-polygon reduction (yaml:75-76) and
    ``convert-polygons-to-label-points``. Polygon winding: exterior rings
    are normalized to the MVT spec orientation (positive shoelace area in
    y-down tile coords); ``use-source-polygon-winding`` keeps the input
    orientation and ``reverse-source-polygon-winding`` flips it
    (yaml:108-109).
    """
    simp = o.simp_low if below_max else o.simp_max
    simplify = _visvalingam if o.visvalingam else geom.douglas_peucker
    lo, hi = -o.buffer, extent + o.buffer
    wkbs = pdf["geom_wkb"].to_numpy()
    prot = ((pdf["prot_x"].to_numpy(), pdf["prot_y"].to_numpy())
            if "prot_x" in pdf.columns else None)

    def near(c: np.ndarray) -> bool:
        return o.no_clip or (lo <= c[0] <= hi and lo <= c[1] <= hi)

    for i in rows:
        gcode = int(codes[i])
        _, coords = geom.wkb_parse(bytes(wkbs[i]))
        prot_mask = None
        if prot is not None and prot[0][i] is not None and len(prot[0][i]):
            m = protect_mask(coords, set(zip(map(int, prot[0][i]),
                                             map(int, prot[1][i]))))
            prot_mask = m if m.any() else None
        px, py = tiles.tile_local_coords(coords[:, 0], coords[:, 1], z, x, y,
                                         extent=extent)
        pts = np.c_[px, py].astype(np.float64)
        if gcode == 1:
            if not near(pts[0]):
                continue
            parts = [pts.astype(np.int64)]
        elif gcode == 2:
            if simp:
                pts = simplify(pts, simp, prot_mask)
            parts_f = ([pts] if o.no_clip
                       else geom.clip_line_to_rect(pts, lo, lo, hi, hi))
            parts = [p.round().astype(np.int64) for p in parts_f]
            parts = [p for p in parts if len(p) >= 2]
        elif o.label_points or abs(geom.shoelace_area(pts)) < o.tiny:
            # tiny-polygon reduction runs BEFORE simplification (which
            # would legally collapse a sub-pixel ring to nothing): the ring
            # becomes its representative point
            c = pts.mean(axis=0)
            if not near(c):
                continue
            gcode, parts = 1, [np.round(c)[None, :].astype(np.int64)]
        else:
            if simp and len(pts) > 4:
                simplified = simplify(pts, simp, prot_mask)
                # ring-survival guard: keep the original if the simplifier
                # collapsed the ring below a valid polygon
                if len(simplified) >= 4:
                    pts = simplified
            ring = (pts if o.no_clip
                    else geom.clip_ring_to_rect(pts, lo, lo, hi, hi))
            if len(ring) < 3:
                continue
            area = geom.shoelace_area(ring)
            if abs(area) < o.tiny:
                gcode = 1
                parts = [np.round(ring.mean(axis=0))[None, :].astype(np.int64)]
            else:
                if o.reverse_winding or (not o.source_winding and area < 0):
                    ring = ring[::-1]
                parts = [np.round(ring).astype(np.int64)]
        yield i, gcode, parts
