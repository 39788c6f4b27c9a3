"""Raster <-> vector bridge: rasterize polygon zones into per-tile grids and
vectorize grids back — NumPy kernels over Arrow batches of tile rows
(mapInPandas; polygonize runs its per-tile labelling on the tile-sorted
multi-tile mapInPandas, ``pyramid._map_tiles``).

Grid convention: per (z, x, y) tile, a size x size uint8 mask, row 0 = tile
top, pixel centers sampled (geom.rasterize_ring). Vectorize returns
run-length rectangles in pixel space — exact inverse for cell-count parity
(sum of rect areas == filled pixels), the FIXTURES.md §6 gate.

Scale shape: the zone list is the small broadcast side (driver pandas ->
UDF closure); the (zone, tile) work list is the zone table exploded to each
zone's bbox tile cover in the plan (``pyramid._bbox_tiles``); each tile
renders independently in an Arrow batch -> embarrassingly parallel, no
shuffle after the initial repartition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geom, tiles
from .joins import _ring_table, _zone_frame
from .pyramid import _bbox_tiles, _map_tiles

GRID_SIZE = 256

RASTER_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("zone_id", T.LongType()),
    T.StructField("filled", T.LongType()),
    T.StructField("grid", T.BinaryType()),
])


def rasterize_zones(
    spark: SparkSession, zones_pdf: pd.DataFrame, z: int,
    size: int = GRID_SIZE,
) -> DataFrame:
    """One row per (tile, zone) with the zone's coverage mask in that tile."""
    # the work list: the zone table exploded to each zone's bbox tile cover
    # in the plan (an Arrow-backed zone table plans as a LocalTableScan even
    # when empty, so no read wakes a Python worker per core)
    zt = _zone_frame(spark, _ring_table(zones_pdf), codegen=False)
    work = _bbox_tiles(zt, "xmin", "ymin", "xmax", "ymax", str(z)) \
        .select("zone_id", "x", "y").repartition("x", "y")
    rings = {int(r.zone_id): np.asarray(r.ring, dtype=np.float64)
             for _, r in zones_pdf.iterrows()}

    def render(batches):
        for pdf in batches:
            rows = []
            for zone_id, x, y in zip(pdf.zone_id, pdf.x, pdf.y):
                lon_min, lat_min, lon_max, lat_max = (
                    float(v[0]) for v in tiles.tile_bounds(
                        z, np.array([x]), np.array([y]))
                )
                grid = geom.rasterize_ring(
                    rings[int(zone_id)], lon_min, lat_min, lon_max, lat_max,
                    size=size,
                )
                filled = int(grid.sum())
                if filled == 0:
                    continue  # bbox cover over-approximates; skip empty
                rows.append({
                    "z": z, "x": int(x), "y": int(y),
                    "zone_id": int(zone_id),
                    "filled": filled, "grid": grid.tobytes(),
                })
            yield pd.DataFrame(
                rows, columns=["z", "x", "y", "zone_id", "filled", "grid"]
            )

    return work.mapInPandas(render, schema=RASTER_SCHEMA)


def vectorize_grid(grid: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Grid -> run-length rectangles (row, col_start, col_end_excl, height=1).

    The exact inverse used for the cell-count parity gate; NumPy run-length
    over each row (no Python per-pixel loop).
    """
    rects = []
    for row in range(grid.shape[0]):
        r = grid[row]
        if not r.any():
            continue
        diff = np.diff(np.r_[0, r.astype(np.int8), 0])
        starts = np.where(diff == 1)[0]
        ends = np.where(diff == -1)[0]
        for s, e in zip(starts, ends):
            rects.append((row, int(s), int(e), 1))
    return rects


VECTORIZE_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("zone_id", T.LongType()),
    T.StructField("n_rects", T.LongType()),
    T.StructField("rect_area", T.LongType()),
])


def vectorize_tiles(raster_df: DataFrame, size: int = GRID_SIZE) -> DataFrame:
    """Vectorize every grid back; rect_area must equal `filled` (parity)."""

    def vec(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                grid = np.frombuffer(r.grid, dtype=np.uint8).reshape(size, size)
                rects = vectorize_grid(grid)
                rows.append({
                    "z": int(r.z), "x": int(r.x), "y": int(r.y),
                    "zone_id": int(r.zone_id),
                    "n_rects": len(rects),
                    "rect_area": int(sum(e - s for _, s, e, _ in rects)),
                })
            yield pd.DataFrame(
                rows,
                columns=["z", "x", "y", "zone_id", "n_rects", "rect_area"],
            )

    return raster_df.mapInPandas(vec, schema=VECTORIZE_SCHEMA)


ZONAL_SCHEMA = T.StructType([
    T.StructField("zone_id", T.LongType()),
    T.StructField("n_pixels", T.LongType()),
    T.StructField("v_sum", T.LongType()),
    T.StructField("v_min", T.LongType()),
    T.StructField("v_max", T.LongType()),
])


def pixel_value(z: int, x, y, px, py):
    """Deterministic synthetic raster band: an integer function of global
    pixel coordinates (the stand-in for a real DEM/population band — same
    role the synthetic pages play for text). Pure integer arithmetic so
    tests (and an oracle) can replay it exactly."""
    import numpy as np

    gx = np.asarray(x, dtype=np.int64) * GRID_SIZE + np.asarray(px)
    gy = np.asarray(y, dtype=np.int64) * GRID_SIZE + np.asarray(py)
    return (gx * 31 + gy * 17) % 1000


def zonal_stats(raster_df: DataFrame, size: int = GRID_SIZE) -> DataFrame:
    """raster->vector ZONAL STATISTICS: per-zone count/sum/min/max of the
    synthetic band over the zone's coverage masks.

    Per-tile partials are computed in the SAME Arrow batch that holds the
    mask (mapInPandas, vectorized NumPy — no pixel ever leaves the
    executor), then a tiny hash aggregate merges tiles per zone: shuffle
    bytes are one row per (tile, zone), never per pixel — at a 100 TB
    raster the network sees only the partials.
    """
    import numpy as np

    def partials(batches):
        for pdf in batches:
            rows = []
            for zt in pdf.itertuples():
                grid = np.frombuffer(zt.grid, dtype=bool).reshape(
                    size, size)
                py, px = np.nonzero(grid)
                if len(px) == 0:
                    continue
                v = pixel_value(int(zt.z), zt.x, zt.y, px, py)
                rows.append({
                    "zone_id": int(zt.zone_id), "n_pixels": len(v),
                    "v_sum": int(v.sum()), "v_min": int(v.min()),
                    "v_max": int(v.max()),
                })
            yield pd.DataFrame(
                rows, columns=["zone_id", "n_pixels", "v_sum",
                               "v_min", "v_max"])

    part = raster_df.mapInPandas(partials, schema=ZONAL_SCHEMA)
    return part.groupBy("zone_id").agg(
        F.sum("n_pixels").cast("long").alias("n_pixels"),
        F.sum("v_sum").cast("long").alias("v_sum"),
        F.min("v_min").alias("v_min"),
        F.max("v_max").alias("v_max"),
    )


# ---------------------------------------------------------------------------
# Distributed POLYGONIZE (raster -> connected vector regions): the classic
# two-level labeling used for planet-scale rasters. Each tile labels its
# own 4-connected components locally (run-based union-find inside the
# Arrow batch — no per-pixel Python); tiles then exchange only their
# BORDER pixels' labels; a cross-tile equi-join on canonical edge keys
# yields a (tiny) label-adjacency graph whose connected components
# (operators/graph.py, O(log n) shuffle rounds) merge local labels into
# global region ids. Shuffle volume is O(perimeter), never O(pixels).
# ---------------------------------------------------------------------------


def label_runs(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """Run-based 4-connected component labeling of a 2D bool mask.
    Returns (labels, n) where labels is int64 with -1 on empty pixels and
    0..n-1 region labels; label order is deterministic (first-touch by
    row-major run order, compacted by first appearance)."""
    h, w = mask.shape
    labels = np.full((h, w), -1, dtype=np.int64)
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    prev_runs: list[tuple[int, int, int]] = []
    for r in range(h):
        row = mask[r]
        if not row.any():
            prev_runs = []
            continue
        d = np.diff(row.astype(np.int8))
        starts = (np.where(d == 1)[0] + 1).tolist()
        ends = (np.where(d == -1)[0] + 1).tolist()
        if row[0]:
            starts.insert(0, 0)
        if row[-1]:
            ends.append(w)
        runs = []
        for s, e in zip(starts, ends):
            lbl = -1
            for ps, pe, pl in prev_runs:
                if ps < e and pe > s:  # 4-connected vertical overlap
                    root = find(pl)
                    if lbl == -1:
                        lbl = root
                    elif root != lbl:
                        parent[max(root, lbl)] = min(root, lbl)
                        lbl = min(root, lbl)
            if lbl == -1:
                lbl = len(parent)
                parent.append(lbl)
            labels[r, s:e] = lbl
            runs.append((s, e, lbl))
        prev_runs = runs
    # resolve unions + compact to 0..n-1 by first appearance (vectorized:
    # no per-pixel Python)
    if not parent:
        return labels, 0
    root_of = np.array([find(i) for i in range(len(parent))], dtype=np.int64)
    flat = labels.ravel()
    pos = flat >= 0
    rooted = root_of[flat[pos]]
    uniq, first_idx = np.unique(rooted, return_index=True)
    order = np.argsort(first_idx)
    remap_arr = np.empty(int(uniq.max()) + 1, dtype=np.int64)
    remap_arr[uniq[order]] = np.arange(len(uniq))
    flat[pos] = remap_arr[rooted]
    return labels, len(uniq)


_POLY_LOCAL_SCHEMA = T.StructType([
    T.StructField("kind", T.StringType()),      # 'S' stats | 'E' edge
    T.StructField("nid", T.LongType()),         # global node id (tile+label)
    T.StructField("n_pixels", T.LongType()),    # stats rows only
    T.StructField("ekey", T.StringType()),      # edge rows only
])


def _label_bits(size: int) -> int:
    """Bits needed for the worst-case per-tile component count: a
    checkerboard has size*size/2 components, so the max local label is
    size*size//2 - 1 (15 bits at the default size=256)."""
    return max(1, (size * size // 2 - 1).bit_length())


def _node_id(z: int, x: int, y: int, label: int, bits: int) -> int:
    if label >= (1 << bits):
        raise ValueError(
            f"per-tile label {label} exceeds {bits}-bit node-id field")
    return (((z << 20 | x) << 20) | y) << bits | label


def polygonize_tiles(raster_df: DataFrame, size: int = GRID_SIZE) -> DataFrame:
    """Distributed polygonize over (z, x, y, zone_id, grid) raster rows:
    per-tile union mask -> local CCL -> border-label exchange -> global
    connected components. Returns one row per REGION:
    (region, n_pixels, n_pieces) where region = min node id in the
    component, n_pieces = number of (tile, local-label) fragments."""
    from .graph import connected_components

    bits = _label_bits(size)

    def local_cc(z, x, y, pdf):
        mask = np.zeros((size, size), dtype=bool)
        for g in pdf.grid:
            mask |= np.frombuffer(bytes(g), dtype=np.uint8) \
                .reshape(size, size).astype(bool)
        labels, n = label_runs(mask)
        rows = []
        for lbl in range(n):
            rows.append(("S", _node_id(z, x, y, lbl, bits),
                         int((labels == lbl).sum()), None))
        # border labels -> canonical edge keys shared with the neighbor
        for i in range(size):
            if labels[0, i] >= 0:      # top edge pairs with (y-1) bottom
                rows.append(("E", _node_id(z, x, y, int(labels[0, i]), bits),
                             0, f"v:{z}:{x}:{y - 1}:{i}"))
            if labels[size - 1, i] >= 0:   # bottom edge
                rows.append(("E", _node_id(z, x, y, int(labels[size - 1, i]), bits),
                             0, f"v:{z}:{x}:{y}:{i}"))
            if labels[i, 0] >= 0:      # left edge pairs with (x-1) right
                rows.append(("E", _node_id(z, x, y, int(labels[i, 0]), bits),
                             0, f"h:{z}:{x - 1}:{y}:{i}"))
            if labels[i, size - 1] >= 0:   # right edge
                rows.append(("E", _node_id(z, x, y, int(labels[i, size - 1]), bits),
                             0, f"h:{z}:{x}:{y}:{i}"))
        return rows

    # an eager checkpoint, not a lazy persist: the border self-join below
    # scans the stage from two map stages at once, and with a lazy persist
    # building the raster_polygonize plan ran 42 jobs (119 stages), not 40
    # (101)
    local = _map_tiles(raster_df, local_cc, _POLY_LOCAL_SCHEMA) \
        .localCheckpoint(eager=True)

    stats = local.where(F.col("kind") == "S").select("nid", "n_pixels")
    borders = (local.where(F.col("kind") == "E")
               .select("ekey", "nid").dropDuplicates(["ekey", "nid"]))
    a = borders.selectExpr("ekey", "nid AS nid_a")
    b = borders.selectExpr("ekey", "nid AS nid_b")
    edges = (a.join(b, "ekey")
             .where(F.col("nid_a") < F.col("nid_b"))
             .select("nid_a", "nid_b").distinct())
    cc = connected_components(edges, "nid_a", "nid_b") \
        .selectExpr("node AS nid", "component")
    return (
        stats.join(cc, "nid", "left")
        .select(F.coalesce("component", "nid").alias("region"), "n_pixels")
        .groupBy("region")
        .agg(F.sum("n_pixels").cast("bigint").alias("n_pixels"),
             F.count(F.lit(1)).alias("n_pieces"))
    )

