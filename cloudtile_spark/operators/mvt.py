"""Mapbox-Vector-Tile (MVT) encoding as a grouped Arrow operator — the
engine's replacement for tippecanoe's tile serializer (reference invokes it
at src/cloudtile/geofile.py:224-234; `no-tile-compression` default keeps
tiles as raw protobuf, reference tippecanoe.yaml:112).

The MVT wire format is public (Mapbox vector-tile spec 2.1): protobuf with
varint/zigzag geometry commands (MoveTo=1/LineTo=2/ClosePath=7), layer
extent 4096. A minimal pure-Python protobuf writer/reader lives here — no
external deps — and runs per-TILE inside ``applyInPandas``: one Arrow batch
per (z, x, y) group, features sorted by feature_id before encoding so the
byte output is deterministic at any parallelism (the property the two-
cluster-size equivalence check needs).

Geometry semantics folded into the encoder (tippecanoe option parity):
- clipping to tile bounds + buffer        (yaml:81-84, default buffer=5)
- Douglas-Peucker simplification          (yaml:70, default tolerance 10,
  in tile units, applied to lines/polygons)
- tiny-polygon reduction                  (yaml:75-76: polygons under the
  size threshold become their representative point)
- per-tile feature cap by ascending id    (yaml:105-107, read by
                                           pyramid.tile_limits)
- maximum-tile-bytes drop order           (yaml:106: encode stops adding
  features once the byte budget is hit)
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geom, tiles
from ..settings import TilingSettings, layer_name
from .pmtiles import _read_varint, _varint  # LEB128, as in PMTiles dirs
from .pyramid import (assign_xy, epsg_code, explode_zooms, project_to_4326,
                      tile_limits)

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
                 keys: list[str], values: list[str],
                 extent: int = EXTENT) -> bytes:
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
# the Spark operator
# ---------------------------------------------------------------------------

TILE_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("feature_count", T.LongType()),
    T.StructField("mvt", T.BinaryType()),
])


def encode_point_tiles(
    features: DataFrame,
    minz: int,
    maxz: int,
    settings: TilingSettings | None = None,
) -> DataFrame:
    """Point features -> MVT tiles for z in [minz, maxz].

    Plan: explode zooms (narrow) -> tile xy (codegen) -> groupBy(z,x,y)
    applyInPandas encoder (one Arrow batch per tile). Deterministic: encoder
    sorts by feature_id; cap and byte budget drop the HIGHEST ids first.
    """
    settings = settings if settings is not None else TilingSettings()
    features = project_to_4326(features, settings)
    cap, cap_at_max, max_bytes = tile_limits(settings)
    # tile resolution: full-detail d => extent 2^d (tippecanoe yaml:31-33;
    # tippecanoe default d=12 -> 4096)
    extent = 1 << int(settings.get("full-detail") or 12)
    # in-tile ordering (tippecanoe yaml:85-94): default ascending
    # feature_id (== preserve-input-order for our monotone ids); order-by /
    # order-descending-by sort by a props attribute, id-tiebroken so output
    # stays deterministic at any parallelism
    order_key = settings.get("order-by") or settings.get("order-descending-by")
    order_desc = bool(settings.get("order-descending-by"))
    has_props = "props" in features.columns
    if order_key and not has_props:
        raise ValueError("order-by requires a props column")
    exclude_all = bool(settings.get("exclude-all"))
    include = settings.get("include")
    exclude = settings.get("exclude")
    layer = layer_name(settings)
    # settings-driven feature filtering (tippecanoe feature-filter /
    # feature-filter-file, yaml:47-48): compiled to a Catalyst predicate
    # BEFORE the zoom explode so it pushes toward the scan
    from .filters import apply_feature_filter, compile_feature_filter
    features = apply_feature_filter(features, settings, layer)
    # prefilter (yaml: prefilter): a second filter stage BEFORE the zoom
    # explode — tippecanoe's pre-tiling shell filter, re-expressed as the
    # same legacy-filter JSON, so it stays a pushable Catalyst predicate
    if settings.get("prefilter"):
        features = features.filter(compile_feature_filter(
            settings["prefilter"], features.columns, layer))
    # single-precision (yaml:53): coordinates pass through float32 — the
    # storage-halving cast a pipeline applies before wide fan-out
    if settings.get("single-precision"):
        features = features.withColumn(
            "lon", F.col("lon").cast("float").cast("double")
        ).withColumn("lat", F.col("lat").cast("float").cast("double"))
    # drop-rate + base-zoom (yaml:54-56, B10 as SETTINGS): below the base
    # zoom, keep a deterministic hash-sample of rate^(base_zoom - z) —
    # pure Catalyst predicate on (feature_id, z), no Python
    drop_rate = settings.get("drop-rate")
    base_zoom = settings.get("base-zoom")
    if base_zoom == "g" or base_zoom is None:
        base_zoom = maxz
    if settings.get("limit-base-zoom-to-maximum-zoom"):
        base_zoom = min(int(base_zoom), maxz)
    cols = ["feature_id", "lon", "lat"] + (["props"] if has_props else [])

    df = assign_xy(explode_zooms(features.select(*cols), minz, maxz))
    # postfilter (yaml: postfilter): runs on the POST-explode frame, so it
    # can reference $zoom — per-zoom feature gating without a UDF
    if settings.get("postfilter"):
        df = df.filter(compile_feature_filter(
            settings["postfilter"], df.columns, layer))
    if drop_rate:
        keep = (
            F.when(F.col("z") >= F.lit(int(base_zoom)), F.lit(True))
            .otherwise(
                (F.pmod(F.xxhash64("feature_id", "z"), F.lit(1_000_000))
                 / 1_000_000.0)
                < F.pow(F.lit(1.0 / float(drop_rate)),
                        F.lit(int(base_zoom)) - F.col("z"))
            )
        )
        df = df.filter(keep)

    def enc(key, pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        eff_cap = cap_at_max if z == maxz else cap
        if order_key:
            pdf = pdf.assign(
                _ok=pdf.props.map(lambda p: (p or {}).get(order_key, ""))
            ).sort_values(["_ok", "feature_id"],
                          ascending=[not order_desc, True])
            pdf = pdf.head(eff_cap)
        else:
            # `reverse` (yaml:87): reverse input order — descending ids
            pdf = pdf.sort_values(
                "feature_id",
                ascending=not bool(settings.get("reverse"))).head(eff_cap)
        px, py = tiles.tile_local_coords(
            pdf.lon.values, pdf.lat.values, z, x, y, extent=extent)
        # per-tile attribute tables (MVT layer keys/values, dedup'd);
        # include/exclude/exclude-all follow tippecanoe yaml:34-37
        keys: list[str] = []
        values: list[str] = []
        kv_idx: dict[tuple[str, str], tuple[int, int]] = {}

        def tag_ids(props) -> list[int]:
            if exclude_all or not has_props or props is None:
                return []
            out = []
            for k in sorted(props):
                if include and k not in include:
                    continue
                if exclude and k in exclude:
                    continue
                v = props[k]
                if (k, v) not in kv_idx:
                    if k not in keys:
                        keys.append(k)
                    values.append(v)
                    kv_idx[(k, v)] = (keys.index(k), len(values) - 1)
                ki, vi = kv_idx[(k, v)]
                out += [ki, vi]
            return out

        blobs = []
        total = 0
        n = 0
        props_col = pdf.props.values if has_props else [None] * len(pdf)
        attr_id = settings.get("use-attribute-for-id")
        for fid, ix, iy, pr in zip(pdf.feature_id.values, px, py, props_col):
            # use-attribute-for-id (yaml:52): feature id from an attribute;
            # stringified numbers convert (yaml:51 semantics)
            if attr_id and pr is not None and attr_id in pr:
                fid = int(float(pr[attr_id]))
            fb = encode_feature(int(fid), 1, [np.array([[ix, iy]])],
                                tag_ids(pr))
            if total + len(fb) > max_bytes:
                break
            blobs.append(fb)
            total += len(fb)
            n += 1
        tile = encode_layer(layer, blobs, keys, values, extent=extent)
        return pd.DataFrame(
            [{"z": z, "x": x, "y": y, "feature_count": n, "mvt": tile}]
        )

    return df.groupBy("z", "x", "y").applyInPandas(enc, schema=TILE_SCHEMA)


COVER_SCHEMA = T.StructType([
    T.StructField("feature_id", T.LongType()),
    T.StructField("geom_type", T.StringType()),
    T.StructField("geom_wkb", T.BinaryType()),
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
])


def tile_cover(features: DataFrame, minz: int, maxz: int,
               max_tiles_per_feature: int = 4096,
               no_duplication: bool = False) -> DataFrame:
    """Explode WKB geometries to every (z, x, y) their bbox covers.

    Arrow-batched (mapInPandas): WKB parse + bbox + cover are NumPy work.
    Fan-out control (SURVEY §4 hard part (a)): a feature covering more than
    ``max_tiles_per_feature`` tiles at a zoom contributes its bbox-cover at
    the deepest zoom where it fits the budget and is SKIPPED deeper (the
    tippecanoe analogue is clip+dedup per tile; skipping over-budget deep
    zooms bounds the blow-up for continent-scale polygons).

    ``no_duplication`` (tippecanoe yaml: no-duplication): a feature spanning
    several tiles at a zoom is emitted ONLY in the tile containing its
    first vertex (unclipped), instead of clipped copies in every tile.
    """

    def cover(batches):
        for pdf in batches:
            rows = []
            for fid, gt, wkb in zip(pdf.feature_id, pdf.geom_type,
                                    pdf.geom_wkb):
                _, coords = geom.wkb_parse(bytes(wkb))
                xmin, ymin, xmax, ymax = geom.polygon_bbox(coords)
                for z in range(minz, maxz + 1):
                    if no_duplication:
                        fx = tiles.lonlat_to_tile(
                            coords[:1, 0], coords[:1, 1], z)
                        rows.append((int(fid), gt, bytes(wkb), z,
                                     int(fx[0][0]), int(fx[1][0])))
                        continue
                    tl = tiles.bbox_tile_cover(xmin, ymin, xmax, ymax, z)
                    if len(tl) > max_tiles_per_feature:
                        break
                    for x, y in tl:
                        rows.append((int(fid), gt, bytes(wkb), z, x, y))
            yield pd.DataFrame(
                rows, columns=["feature_id", "geom_type", "geom_wkb",
                               "z", "x", "y"],
            )

    return features.select("feature_id", "geom_type", "geom_wkb") \
        .mapInPandas(cover, schema=COVER_SCHEMA)


def encode_geom_tiles(
    features: DataFrame,
    minz: int,
    maxz: int,
    settings: TilingSettings | None = None,
) -> DataFrame:
    """WKB features (point/linestring/polygon) -> MVT tiles.

    tile_cover (narrow Arrow map) -> groupBy(z,x,y) -> per-tile encode with
    clip/simplify/tiny-polygon (encode_geom_tile_batch). The grouped stage
    receives only the features whose bbox touches the tile; exact clipping
    inside the encoder discards bbox-only intersections.
    """
    settings = settings if settings is not None else TilingSettings()
    # WKB path: 4326 only (loud) — reprojecting would rewrite every ring
    # inside the Arrow cover pass; point pipelines also accept EPSG:3857
    if epsg_code(settings) != "4326":
        raise NotImplementedError(
            f"projection {settings['projection']!r} unsupported for WKB "
            "geometry sources (EPSG:4326 only)")
    covered = tile_cover(
        features, minz, maxz,
        no_duplication=bool(settings.get("no-duplication")))
    share_borders = bool(settings.get("detect-shared-borders")
                         or settings.get("no-simplification-of-shared-nodes"))
    if share_borders:
        # shared-border topology (operators/borders.py): per-feature
        # protected-vertex lists ride the cover rows into the grouped
        # encode — an equi-join on feature_id, no driver-side geometry
        from .borders import protected_nodes
        covered = covered.join(protected_nodes(features), "feature_id",
                               "left")

    def enc(key, pdf: pd.DataFrame) -> pd.DataFrame:
        z, x, y = int(key[0]), int(key[1]), int(key[2])
        feats = [
            (int(fid), gt, bytes(wkb))
            for fid, gt, wkb in zip(pdf.feature_id, pdf.geom_type,
                                    pdf.geom_wkb)
        ]
        protected = None
        if share_borders:
            protected = {
                int(fid): set(zip(map(int, px), map(int, py)))
                for fid, px, py in zip(pdf.feature_id, pdf.prot_x,
                                       pdf.prot_y)
                if px is not None and len(px)
            }
        blob, n = encode_geom_tile_batch(z, x, y, feats, settings,
                                         maxz=maxz, protected=protected)
        if n == 0:
            return pd.DataFrame(
                columns=["z", "x", "y", "feature_count", "mvt"]
            ).astype({"z": "int32", "x": "int64", "y": "int64",
                      "feature_count": "int64"})
        return pd.DataFrame(
            [{"z": z, "x": x, "y": y, "feature_count": n, "mvt": blob}]
        )

    return covered.groupBy("z", "x", "y").applyInPandas(
        enc, schema=TILE_SCHEMA)


def encode_geom_tile_batch(
    z: int, x: int, y: int,
    feats: list[tuple[int, str, bytes]],
    settings: TilingSettings,
    maxz: int | None = None,
    protected: dict[int, set[tuple[int, int]]] | None = None,
) -> tuple[bytes, int]:
    """Encode one tile of WKB geometries (point/linestring/polygon) with
    clip + simplify + tiny-polygon reduction. Used by the generic geometry
    sink and unit tests (driver-side twin of the grouped UDF body).

    Tile resolution (tippecanoe yaml:31-33): extent = 2^full-detail at the
    max zoom, 2^low-detail below it, clamped at minimum-detail — coarser
    grids at low zooms shrink tile bytes where detail is invisible anyway.

    Polygon winding: by default exterior rings are normalized to the MVT
    spec orientation (positive shoelace area in y-down tile coords);
    ``use-source-polygon-winding`` keeps the input orientation and
    ``reverse-source-polygon-winding`` flips it (tippecanoe yaml:108-109).
    """
    below_max = maxz is not None and z < maxz
    cap, cap_at_max, max_bytes = tile_limits(settings)
    cap = cap if below_max else cap_at_max
    # drop-lines / drop-polygons (tippecanoe yaml:57-58): drop those
    # geometry types at below-max zooms, like the drop-rate family
    drop_lines = bool(settings.get("drop-lines")) and below_max
    drop_polys = bool(settings.get("drop-polygons")) and below_max
    # tippecanoe drops BEFORE capping: filter dropped geometry types out
    # first so the cap keeps up to `cap` SURVIVING features (an over-cap
    # tile must not come out under-filled because dropped rows ate slots)
    if drop_lines or drop_polys:
        feats = [f for f in feats
                 if not ((drop_lines and GEOM_TYPE_CODE[f[1]] == 2)
                         or (drop_polys and GEOM_TYPE_CODE[f[1]] == 3))]
    full_detail = int(settings.get("full-detail") or 12)
    min_detail = int(settings.get("minimum-detail") or 7)
    low_detail = max(int(settings.get("low-detail") or full_detail),
                     min_detail)
    detail = full_detail if (maxz is None or z >= maxz) else low_detail
    extent = 1 << detail
    use_src_wind = bool(settings.get("use-source-polygon-winding"))
    rev_wind = bool(settings.get("reverse-source-polygon-winding"))
    simp = 0 if settings.get("no-line-simplification") else settings["simplification"]
    # simplify-only-low-zooms (yaml:80): full fidelity at the max zoom;
    # simplification-at-maximum-zoom (yaml:78): separate maxz tolerance
    if not below_max:
        if settings.get("simplify-only-low-zooms"):
            simp = 0
        elif settings.get("simplification-at-maximum-zoom") is not None \
                and not settings.get("no-line-simplification"):
            simp = settings["simplification-at-maximum-zoom"]
    # simplifier choice: Douglas-Peucker (default) or Visvalingam-Whyatt
    # (tippecanoe `visvalingam`, yaml:77; area threshold ~ tol^2/2)
    if settings.get("visvalingam"):
        def _simplify(pts, tol, protect=None):
            return geom.visvalingam(pts, (tol * tol) / 2.0, protect=protect)
    else:
        _simplify = geom.douglas_peucker
    buffer_px = settings.get("buffer") or 5
    # no-duplication writes the UNCLIPPED feature in its single emitting
    # tile (tippecanoe semantics: renderers reconstruct the full geometry
    # from the one copy), so it implies the no-clipping encode path
    no_clip = bool(settings.get("no-clipping")) \
        or bool(settings.get("no-duplication"))
    tiny = settings.get("tiny-polygon-size") or 9  # spec default ~3x3 px
    if settings.get("no-tiny-polygon-reduction"):
        tiny = 0
    # convert-polygons-to-label-points (yaml: label points): every polygon
    # collapses to its representative point
    label_points = bool(settings.get("convert-polygons-to-label-points"))

    lon_min, lat_min, lon_max, lat_max = (
        float(v[0]) for v in tiles.tile_bounds(
            z, np.array([x]), np.array([y]))
    )
    blobs: list[bytes] = []
    total = n = 0
    # in-tile ordering: default ascending feature_id (preserve-input-order
    # for monotone ids); order-smallest-first / order-largest-first
    # (yaml:88-89) rank polygons by ring area so the cap keeps the chosen
    # end of the size distribution, id-tiebroken for determinism
    if settings.get("order-smallest-first") or \
            settings.get("order-largest-first"):
        desc = bool(settings.get("order-largest-first"))

        def _area(item):
            _, gt, wkb_ = item
            if GEOM_TYPE_CODE[gt] != 3:
                return 0.0
            _, c = geom.wkb_parse(wkb_)
            return abs(geom.shoelace_area(c))

        ordered = sorted(feats,
                         key=lambda f: (-_area(f) if desc else _area(f),
                                        f[0]))[:cap]
    else:
        ordered = sorted(feats)[:cap]
    for fid, gtype_s, wkb in ordered:
        gcode = GEOM_TYPE_CODE[gtype_s]
        _, coords = geom.wkb_parse(wkb)
        # shared-border nodes (operators/borders.py): mask aligned with
        # coords rows; simplification never removes a protected vertex
        prot_mask = None
        if protected:
            pk = protected.get(int(fid))
            if pk:
                from .borders import protect_mask as _pm
                m = _pm(coords, pk)
                prot_mask = m if m.any() else None
        px, py = tiles.tile_local_coords(coords[:, 0], coords[:, 1], z, x, y,
                                         extent=extent)
        pts = np.c_[px, py].astype(np.float64)
        lo, hi = -buffer_px, extent + buffer_px
        if gcode == 1:
            if not no_clip and not (lo <= pts[0, 0] <= hi and lo <= pts[0, 1] <= hi):
                continue
            parts = [pts.astype(np.int64)]
        elif gcode == 2:
            if simp:
                # honor the visvalingam setting for lines too (tippecanoe
                # applies the chosen simplifier to both geometries)
                pts = _simplify(pts, float(simp), prot_mask)
            parts_f = ([pts] if no_clip
                       else geom.clip_line_to_rect(pts, lo, lo, hi, hi))
            parts = [p.round().astype(np.int64) for p in parts_f]
            parts = [p for p in parts if len(p) >= 2]
        else:
            # tiny-polygon reduction FIRST (before simplification, which
            # would legally collapse a sub-pixel ring to nothing): a ring
            # under the size threshold becomes its representative point
            raw_area = abs(geom.shoelace_area(pts))
            if label_points:
                c = pts.mean(axis=0)
                if no_clip or (lo <= c[0] <= hi and lo <= c[1] <= hi):
                    gcode = 1
                    parts = [np.round(c)[None, :].astype(np.int64)]
                else:
                    continue
            elif raw_area < tiny:
                c = pts.mean(axis=0)
                if no_clip or (lo <= c[0] <= hi and lo <= c[1] <= hi):
                    gcode = 1
                    parts = [np.round(c)[None, :].astype(np.int64)]
                else:
                    continue
            else:
                if simp and len(pts) > 4:
                    simplified = _simplify(pts, float(simp), prot_mask)
                    # ring-survival guard: keep the original if DP collapsed
                    # the ring below a valid polygon
                    if len(simplified) >= 4:
                        pts = simplified
                ring = (pts if no_clip
                        else geom.clip_ring_to_rect(pts, lo, lo, hi, hi))
                if len(ring) < 3:
                    continue
                area = abs(geom.shoelace_area(ring))
                if area < tiny:
                    gcode = 1
                    parts = [np.round(ring.mean(axis=0))[None, :].astype(np.int64)]
                else:
                    # polygon winding (see docstring): spec default is
                    # positive shoelace in y-down tile coords for exterior
                    # rings; source/reverse options override
                    if rev_wind:
                        ring = ring[::-1]
                    elif not use_src_wind and geom.shoelace_area(ring) < 0:
                        ring = ring[::-1]
                    parts = [np.round(ring).astype(np.int64)]
        fb = encode_feature(int(fid), gcode, parts, [])
        if total + len(fb) > max_bytes:
            break
        blobs.append(fb)
        total += len(fb)
        n += 1
    return encode_layer(layer_name(settings), blobs, [], [],
                        extent=extent), n
