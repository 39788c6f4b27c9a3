"""Spatial joins: point-in-polygon and kNN.

The reference contains NO joins (single-input subprocess pipeline — SURVEY.md
§2.C); these are the operators the north rule adds: PIP via a coarse
bbox/cell candidate join + exact even-odd refine, kNN via cell k-ring
expansion with a certified-exact fallback. All coarse stages are JVM-side
equi/range joins; the PIP refine is an unrolled JVM expression, and Python
appears only as an Arrow-batched pandas kernel for rings too wide to unroll.

Scale design:
- PIP has one entry point per join contract, built from the same ring
  table, cell cover and refine router: :func:`pip_join` broadcasts the
  (small) zone side, so the 100 TB point side never shuffles;
  :func:`pip_join_shuffle_codegen` shuffles the point side once on its
  cell id and plans no broadcast at all.
- kNN likewise has one entry point per join contract, built from the same
  ring offsets, window top-k and certificate: :func:`knn_join_adaptive`
  broadcasts the (small) query side and picks a cell resolution per
  query; :func:`knn_join_shuffle` broadcasts nothing data-derived and
  shuffles both sides at one fixed resolution. Candidate lists per query
  are bounded by ring size, then window top-k runs on the (small)
  candidate set.
- Exactness: a k-ring answer for a query is provably exact iff it has k
  candidates and its k-th candidate distance <= a conservative lower bound
  of the distance to the ring boundary; queries that fail the certificate
  fall back to brute force (a tiny minority), so results match the
  brute-force oracle EXACTLY. The brute-force branch is always planned,
  with no row-count probe, so building or explaining a join plan starts
  no Spark job; AQE prunes the branch at run time when it is empty.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import caching, cells, geom, tiles

EARTH_R = geom.EARTH_RADIUS_M


# ---------------------------------------------------------------------------
# Point-in-polygon join
# ---------------------------------------------------------------------------

# Refine routing: the all-JVM unrolled ray cast runs inside WholeStageCodegen
# and beat the Arrow refine in both join forms at 4 cores
# (BENCH/PIP_STRATEGIES.md), so it is used whenever the rings fit the
# unrolled-expression budget and the zone table stays sane. Wider rings go
# to one Arrow kernel that holds the rings in its closure.
PIP_CODEGEN_MAX_VERTS = 128       # terms in the unrolled even-odd expr
PIP_CODEGEN_MAX_CELLS = 4_000_000  # zones x verts: zone-table doubles

_PIP_COLS = ("feature_id", "lon", "lat", "zone_id")
_PIP_SCHEMA = "feature_id long, lon double, lat double, zone_id long"
# inclusive on every side: a prefilter must keep any point the ray cast
# could accept
_BBOX_SQL = "lon >= xmin AND lon <= xmax AND lat >= ymin AND lat <= ymax"


class _Rings(NamedTuple):
    zone_id: np.ndarray  # (Z,) int64
    bbox: np.ndarray     # (Z, 4): xmin, xmax, ymin, ymax
    xy: np.ndarray       # (Z, 2V): x0..x{V-1}, y0..y{V-1}
    max_v: int           # V


def _ring_table(zones_pdf: pd.DataFrame) -> _Rings:
    """Flatten the zone rings (zone_id, ring as an (n, 2) array) into fixed
    coordinate columns. A closing vertex is dropped; shorter rings repeat
    vertex 0, and those padded zero-length edges add no crossings. All
    rings go through one concatenated vertex array: bboxes and padding are
    array ops, not a per-zone loop."""
    rings = [np.asarray(r, dtype=np.float64).reshape(-1, 2)
             for r in zones_pdf.get("ring", ())]
    n = np.array([len(r) for r in rings], dtype=np.int64)
    flat = np.concatenate(rings) if rings else np.empty((0, 2))
    start = np.cumsum(n) - n
    n -= (flat[start] == flat[start + n - 1]).all(axis=1)
    max_v = int(n.max(initial=0))
    col = np.arange(max_v)
    idx = start[:, None] + np.where(col < n[:, None], col, 0)
    xs, ys = flat[idx, 0], flat[idx, 1]
    bbox = np.column_stack([xs.min(1, initial=np.inf),
                            xs.max(1, initial=-np.inf),
                            ys.min(1, initial=np.inf),
                            ys.max(1, initial=-np.inf)])
    zone_id = np.asarray(zones_pdf.get("zone_id", ()), dtype=np.int64)
    return _Rings(zone_id, bbox, np.hstack([xs, ys]), max_v)


def _codegen_fits(rt: _Rings) -> bool:
    return (rt.max_v <= PIP_CODEGEN_MAX_VERTS
            and rt.max_v * len(rt.zone_id) <= PIP_CODEGEN_MAX_CELLS)


def _zone_frame(spark, rt: _Rings, rep: np.ndarray, codegen: bool,
                cell: np.ndarray | None = None) -> DataFrame:
    """One zone-table row per index in ``rep``: the cover ``cell`` if
    given, zone_id, the bbox and, on the codegen route, the vertex
    columns. Shipped through the Arrow pandas path (a LocalRelation; a
    list of tuples would be pickled row by row and plan as an RDD scan)."""
    data = {} if cell is None else {"cell": cell}
    data["zone_id"] = rt.zone_id[rep]
    data.update(zip(("xmin", "xmax", "ymin", "ymax"), rt.bbox[rep].T))
    if codegen:
        names = ([f"x{i}" for i in range(rt.max_v)]
                 + [f"y{i}" for i in range(rt.max_v)])
        data.update(zip(names, rt.xy[rep].T))
    schema = ", ".join(f"{c} {'long' if v.dtype.kind == 'i' else 'double'}"
                       for c, v in data.items())
    return spark.createDataFrame(pd.DataFrame(data), schema)


def _cell_cover(bbox: np.ndarray, res: int, width: int):
    """(eff, rep, cell): every zone's bbox tile cover at resolution ``eff``
    as zone-row indices and cell ids, built with array ops (same corner
    calls and x-outer/y-inner order as tiles.bbox_tile_cover).

    ``eff`` is the finest of res+2 .. res whose cover keeps rows x
    ``width`` under PIP_CODEGEN_MAX_CELLS: at a coarse res the equi-join
    key has few distinct hot cells (metro hotspots), so a handful of
    shuffle partitions carry the whole candidate stream — measured 5.1s at
    res 7 vs 1.0s at res 9 for the SAME ~110M candidates (skew, not
    volume). Output is invariant to the cover resolution.
    """
    def ranges(r: int):
        # (lon_min, lat_min) -> (x0, y1); (lon_max, lat_max) -> (x1, y0)
        x0, y1 = tiles.lonlat_to_tile(bbox[:, 0], bbox[:, 2], r)
        x1, y0 = tiles.lonlat_to_tile(bbox[:, 1], bbox[:, 3], r)
        return x0, x1, y0, y1

    eff = res
    for cand_res in range(min(res + 2, 14), res - 1, -1):
        x0, x1, y0, y1 = ranges(cand_res)
        if int(np.sum((x1 - x0 + 1) * (y1 - y0 + 1))) * width \
                <= PIP_CODEGEN_MAX_CELLS:
            eff = cand_res
            break
    x0, x1, y0, y1 = ranges(eff)
    per_zone = ((x1 - x0 + 1) * (y1 - y0 + 1)).astype(np.int64)
    rep = np.repeat(np.arange(len(bbox)), per_zone)
    offs = (np.arange(int(per_zone.sum()), dtype=np.int64)
            - np.repeat(np.cumsum(per_zone) - per_zone, per_zone))
    nyr = (y1 - y0 + 1)[rep]
    xx = x0[rep] + offs // nyr
    yy = y0[rep] + offs % nyr
    return eff, rep, (tiles.morton(xx, yy) << cells.RES_BITS) | eff


def _inside_sql(max_v: int) -> str:
    """The even-odd ray cast over the vertex columns as ONE unrolled SQL
    expression. Each edge term evaluates
    ``lon < x1 + (lat - y1) / (y2 - y1) * (x2 - x1)``: the same IEEE
    operations in the same order as geom.points_in_polygon, so both refine
    routes agree on every double."""
    if max_v == 0:
        return "false"  # no zones: no vertex columns to test
    terms = []
    for i in range(max_v):
        j = (i + 1) % max_v
        terms.append(
            f"(CASE WHEN ((y{i} > lat) != (y{j} > lat)) "
            f"AND (lon < x{i} + (lat - y{i}) / (y{j} - y{i})"
            f" * (x{j} - x{i})) THEN 1 ELSE 0 END)"
        )
    return f"(({' + '.join(terms)}) % 2) = 1"


def _refine(cand: DataFrame, rt: _Rings, codegen: bool) -> DataFrame:
    """Exact refine of (point, zone) bbox candidates.

    codegen: a filter on the unrolled ray cast over the vertex columns the
    zone table carries, so join and refine run inside WholeStageCodegen
    with no Python worker. Otherwise: one mapInPandas kernel
    (geom.points_in_polygon per zone group) with the ring table in its
    closure, keyed by zone_id; it streams the candidates with no extra
    exchange.
    """
    if codegen:
        return cand.where(F.expr(_inside_sql(rt.max_v))).select(*_PIP_COLS)
    row = {int(z): i for i, z in enumerate(rt.zone_id)}
    xy, v = rt.xy, rt.max_v

    def kernel(batches):
        for pdf in batches:
            lon, lat = pdf.lon.to_numpy(), pdf.lat.to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for zid, idx in pdf.groupby("zone_id").indices.items():
                ring = xy[row[int(zid)]].reshape(2, v).T
                keep[idx] = geom.points_in_polygon(lon[idx], lat[idx], ring)
            yield pdf[keep]

    return cand.select(*_PIP_COLS).mapInPandas(kernel, schema=_PIP_SCHEMA)


def pip_join(points: DataFrame, zones_pdf: pd.DataFrame) -> DataFrame:
    """Exact point-in-polygon join, broadcast form.

    ``zones_pdf`` is a driver-side pandas frame (zone_id, ring) where ring
    is an (n, 2) float64 array — the polygon side of a PIP join is the
    small dimension (admin boundaries), so its ring table is broadcast and
    the point side streams through a bbox range join (scan ->
    broadcast-join -> filter, zero shuffles), then the exact refine.

    Returns (feature_id, lon, lat, zone_id): inner-join semantics,
    multi-match on overlapping zones preserved. Same rows as
    :func:`pip_join_shuffle_codegen`.
    """
    rt = _ring_table(zones_pdf)
    codegen = _codegen_fits(rt)
    zt = _zone_frame(points.sparkSession, rt, np.arange(len(rt.zone_id)),
                     codegen)
    return _refine(points.join(F.broadcast(zt), F.expr(_BBOX_SQL)),
                   rt, codegen)


def pip_join_shuffle_codegen(
    points: DataFrame, zones_pdf: pd.DataFrame, res: int = 7,
) -> DataFrame:
    """Exact point-in-polygon join with NO broadcast: the form for zone
    sides too large to broadcast. Same rows as :func:`pip_join`.

    Plan: the ring table is DENORMALIZED into the cell-cover table
    driver-side — (cell, zone_id, bbox, vertex columns), one row per
    (cover cell, zone), still a small table — so the whole join is ONE
    salted equi-join on the point's cell id followed by the bbox test and
    the refine. Exactly one shuffle of the point side, keyed on the
    high-cardinality cell id. A first cut joined a separate ring table on
    zone_id — that re-shuffles the full candidate set on a
    |zones|-cardinality key (measured 4.5x slower at 200 zones / 94M
    candidates); the denormalized cover keeps the ring constants on the
    small side. Over-budget rings take the Arrow refine, whose rings ride
    in the kernel's closure, so they never broadcast either.
    """
    spark = points.sparkSession
    rt = _ring_table(zones_pdf)
    codegen = _codegen_fits(rt)
    # the width cap bounds the driver-built cover (rows x columns)
    width = 6 + (2 * rt.max_v if codegen else 0)
    eff, rep, cell = _cell_cover(rt.bbox, res, width)
    cover = _zone_frame(spark, rt, rep, codegen, cell=cell)
    pts = points.withColumn("cell", F.expr(cells.cell_sql("lon", "lat", eff)))
    # salt the join key: even at the refined cover resolution a few metro
    # cells hold a large share of the points, and the post-join refine runs
    # inside the join stage — a deterministic per-row salt on the point
    # side (cover rows replicate to every salt) spreads each hot cell's
    # candidates over `salt` reducers (results salt-invariant).
    salt = max(2, min(16, spark.sparkContext.defaultParallelism // 2))
    # explode (not a broadcast crossJoin): keeps the plan free of ANY
    # BroadcastExchange, preserving the operator's no-broadcast contract
    cover = cover.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    pts = pts.withColumn(
        "_salt", F.pmod(F.col("feature_id"), F.lit(salt)).cast("int"))
    # bbox short-circuit BEFORE the refine: a cover cell is up to a full
    # cell wider than the zone's bbox, so cheap compares drop those
    # candidates before the V-term even-odd expression evaluates (the two
    # filters combine into one AND, which short-circuits in codegen).
    # shuffle_hash on the cover side: builds the per-partition hash map on
    # the small side instead of sorting the full point side (SortMergeJoin)
    # — measured ~8% faster at 4M points / 200 zones — and pins the
    # operator to its no-broadcast contract at ANY threshold setting.
    cand = pts.join(cover.hint("shuffle_hash"), ["cell", "_salt"]) \
        .where(F.expr(_BBOX_SQL))
    return _refine(cand, rt, codegen)


# ---------------------------------------------------------------------------
# kNN join (cell k-ring expansion + certified-exact fallback)
# ---------------------------------------------------------------------------

def _ring_bound_sql(ring: int, n: str, deg: str) -> str:
    """SQL expr: conservative lower bound (meters) on the distance from a
    query point inside cell (cx, cy) to the OUTSIDE of its k-ring.

    All four terms are exact spherical geometry, so no flat-earth safety
    factor is needed (a 1-2e-3 margin absorbs double rounding only):

    - east/west: distance from the query to the great circle containing the
      ring's boundary meridian, R * asin(|sin(dlon)| * cos(qlat)).  Any point
      outside the ring's longitude span lies in the opposite hemisphere of at
      least one boundary-meridian plane (span < 180 deg), so the geodesic to
      it crosses that great circle — the plane distance is a true lower
      bound at every latitude.  (The previous locally-flat
      ``dlon * cos(lat) * 0.95`` OVER-estimates near the poles: the true
      ratio asin(sin d * cos phi)/(d * cos phi) drops below 0.95 for
      d ~ 40 deg, phi ~ 80 deg, which could certify an inexact result.)
    - north/south: distance to the boundary parallel along the meridian,
      R * |dlat| — exact, since the nearest point of a latitude circle is
      due north/south.
    - if the ring wraps the full globe in x (coarse res), the east/west
      boundary does not exist -> Infinity (lat terms alone constrain).

    ``n`` and ``deg`` are SQL sub-expressions (cells per side, degrees per
    cell) so the same builder serves fixed-res (constants) and adaptive
    (res-dependent columns) callers.
    """
    west = f"(cx - {ring}) * {deg} - 180.0"
    east = f"(cx + {ring} + 1) * {deg} - 180.0"
    north_lat = (
        f"degrees(atan(sinh(pi() * (1.0 - 2.0 * (cy - {ring}) / ({n})))))"
    )
    south_lat = (
        f"degrees(atan(sinh(pi() * (1.0 - 2.0 * (cy + {ring} + 1) / ({n})))))"
    )
    m_per_deg = f"(radians(1.0) * {EARTH_R})"
    inf = "cast('Infinity' as double)"
    meridian = (
        "({R} * asin(least(1.0, abs(sin(radians(qlon - ({m})))) "
        "* cos(radians(qlat)))))"
    )
    wrap_guard = f"{2 * ring + 1} >= ({n})"
    return (
        f"0.999 * least("
        f"  case when {wrap_guard} then {inf}"
        f"       else {meridian.format(R=EARTH_R, m=west)} end,"
        f"  case when {wrap_guard} then {inf}"
        f"       else {meridian.format(R=EARTH_R, m=east)} end,"
        f"  case when cy - {ring} <= 0 then {inf}"
        f"       else (({north_lat}) - qlat) * {m_per_deg} end,"
        f"  case when cy + {ring} + 1 >= ({n}) then {inf}"
        f"       else (qlat - ({south_lat})) * {m_per_deg} end)"
    )


def _with_cell_xy(df: DataFrame, lon: str, lat: str, res: int) -> DataFrame:
    return df.withColumn("cx", F.expr(tiles.tile_x_sql(lon, str(res)))) \
             .withColumn("cy", F.expr(tiles.tile_y_sql(lat, str(res))))


_KNN_COLS = ("query_id", "feature_id", "dist", "rank")


def _ring_offsets(spark, ring: int) -> DataFrame:
    """The (dx, dy) cell offsets of a (2*ring+1)^2 k-ring, as a literal
    frame (safe to broadcast: its size depends on ``ring`` only)."""
    offsets = [(dx, dy) for dx in range(-ring, ring + 1)
               for dy in range(-ring, ring + 1)]
    return spark.createDataFrame(offsets, "dx int, dy int")


def _top_k(cand: DataFrame, k: int) -> DataFrame:
    """The k nearest candidates per query: drops self-pairs, adds the
    haversine ``dist`` and keeps ``rank <= k`` in (dist, feature_id) order,
    the brute-force oracle's tie-break, so output is deterministic."""
    w = Window.partitionBy("query_id").orderBy("dist", "feature_id")
    return (
        cand.filter(F.col("feature_id") != F.col("query_id"))
        .withColumn("dist",
                    F.expr(geom.haversine_sql("qlon", "qlat", "lon", "lat")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _certify(
    topk: DataFrame, k: int, ring: int, n_sql: str, deg_sql: str,
) -> tuple[DataFrame, DataFrame]:
    """(exact top-k rows, ids) of the queries whose ring answer is provably
    exact: >= k candidates and a k-th distance within the exact-spherical
    lower bound of the distance to the ring boundary (_ring_bound_sql at
    ``n_sql`` cells per side, ``deg_sql`` degrees per cell).

    Window columns over ``topk``, which the rank window already
    partitioned by query_id, so the certificate adds zero exchanges. A
    certified query has n_cand >= k >= 1 rows, so its rank-1 row names it
    exactly once."""
    wq = Window.partitionBy("query_id")
    bound = F.expr(_ring_bound_sql(ring, n_sql, deg_sql))
    ok = (
        topk.withColumn("n_cand", F.count("*").over(wq))
        .withColumn("kth_dist", F.max("dist").over(wq))
        .filter((F.col("n_cand") >= k) & (F.col("kth_dist") <= bound))
    )
    return ok.select(*_KNN_COLS), ok.filter("rank = 1").select("query_id")


def _ring_pass(
    points: DataFrame, qs: DataFrame, k: int, res: int, ring: int,
) -> tuple[DataFrame, DataFrame]:
    """One certified k-ring pass at (res, ring): (exact top-k rows for
    certified queries, certified query ids); callers decide how to join
    the certified-id frame. qs must carry (query_id, qlon, qlat, cx,
    cy)."""
    pts = _with_cell_xy(points, "lon", "lat", res) \
        .withColumnRenamed("cx", "px").withColumnRenamed("cy", "py")
    n = 1 << res
    q_cells = (
        qs.crossJoin(F.broadcast(_ring_offsets(points.sparkSession, ring)))
        .withColumn("nx", (F.col("cx") + F.col("dx") + n) % n)
        .withColumn("ny", F.col("cy") + F.col("dy"))
        .filter((F.col("ny") >= 0) & (F.col("ny") < n))
    )
    cand = q_cells.join(
        pts,
        (q_cells.nx == pts.px) & (q_cells.ny == pts.py),
    )
    return _certify(_top_k(cand, k), k, ring, f"{n}.0", str(360.0 / n))


def knn_join_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res_levels: tuple[int, ...] = (4, 6, 8, 10, 12),
    target: int = 64,
    ring: int = 1,
) -> DataFrame:
    """Exact kNN join: for each query (query_id, qlon, qlat) the k nearest
    points (feature_id, lon, lat) by haversine distance, with a per-QUERY
    cell resolution picked from ``res_levels``, in a single plan.

    A fixed cell resolution dies under skew — a metro-hotspot query at a
    coarse res drags 10^5+ candidates into its ring, while a rural query at
    a fine res certifies nothing and brute-forces. Instead (the S2
    region-coverer idea as DataFrame ops):

      1. ONE aggregation computes cell counts for every candidate
         resolution (pyramid-style explode; map-side combine keeps the
         shuffle at one row per non-empty cell);
      2. each query picks the FINEST resolution whose k-ring holds >=
         ``target`` candidates (broadcast join of ring cells vs counts);
      3. ONE candidates join: point side exploded to the used resolutions,
         query ring cells equi-joined on (res, x, y); window top-k;
      4. per-query exactness certificate (kth dist <= conservative distance
         to the chosen ring boundary); the few failures brute-force in ONE
         final pass. Output equals brute force exactly, ties broken by
         (dist, feature_id).

    A single level, ``res_levels=(r,)``, is a fixed-resolution cell kNN:
    every query whose ring holds any point takes level r, and the
    certificate plus the brute-force pass keep sparse regions exact.

    Cost profile: 2 scans of the point side (counts + candidates join) plus
    a fallback scan; no driver-side collect; all joins against the (small)
    query side are broadcast. Building or explaining the plan runs no
    Spark job.

    SIZE CONTRACT — the QUERY side must be broadcastable (same contract
    as pip_join's zone side): the query ring-cell table is shipped to
    every executor, so this variant assumes queries fit in executor
    memory (up to ~10^6-10^7 rows; the POINT side is unbounded). For a
    100 TB query side use :func:`knn_join_shuffle`, the no-broadcast
    equi-join formulation with identical output — bench.py headlines
    BOTH so the trade is measured, not assumed.
    """
    spark = points.sparkSession
    # the pick loops below assume ascending levels
    res_levels = tuple(sorted(set(res_levels)))
    levels = spark.createDataFrame([(r,) for r in res_levels], "res int")

    n_sql = "cast(pow(2.0, res) as bigint)"

    def with_cells(df: DataFrame, lon: str, lat: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(levels))
            .withColumn("cx", F.expr(tiles.tile_x_sql(lon, "res")))
            .withColumn("cy", F.expr(tiles.tile_y_sql(lat, "res")))
        )

    # 1. cell counts at every resolution — hierarchically: ONE scan of the
    # point side at the FINEST resolution, then every coarser level derives
    # from the (tiny) finest-level counts by integer parent math. The
    # derivation is a single explode + re-aggregation (each finest cell
    # emits its (level, parent) keys for all levels at once) — the former
    # per-level rollup loop planned one aggregation branch per level plus
    # a union, ~4 extra stages whose scheduling latency dominated this
    # phase at bench scale (r6 measurement: 2.4s -> mostly stage latency).
    finest = max(res_levels)
    base = (
        _with_cell_xy(points.select("lon", "lat"), "lon", "lat", finest)
        .groupBy(F.col("cx").alias("kx"), F.col("cy").alias("ky"))
        .count()
    )
    lvl_structs = F.array(*[
        F.struct(
            F.lit(r).alias("kres"),
            F.shiftright("kx", finest - r).alias("kx"),
            F.shiftright("ky", finest - r).alias("ky"),
        )
        for r in res_levels
    ])
    # NO intermediate (level, cell) aggregation: the only consumer is the
    # ring join + per-query sum below, and summing base-cell counts AFTER
    # the broadcast probe is algebraically identical (the per-cell rollup
    # only pre-reduced rows that a cheap broadcast-hash probe filters
    # anyway) — one full exchange of the exploded row set removed
    # (guide §2.4: remove shuffles outright).
    counts = base.select(F.explode(lvl_structs).alias("s"), "count") \
        .select(F.col("s.kres").alias("kres"), F.col("s.kx").alias("kx"),
                F.col("s.ky").alias("ky"), "count")

    # 2. ring cells per (query, res); pick finest res with enough candidates
    q_ring = (
        with_cells(queries, "qlon", "qlat")
        .crossJoin(F.broadcast(_ring_offsets(spark, ring)))
        .withColumn("nx", F.expr(f"pmod(cx + dx, {n_sql})"))
        .withColumn("ny", F.col("cy") + F.col("dy"))
        .filter((F.col("ny") >= 0) & (F.col("ny") < F.expr(n_sql)))
    )
    # ONE aggregation keyed on query_id computes every level's ring count
    # as a conditional sum, and the arg-max ("finest res whose ring holds
    # >= target candidates, else the coarsest level seen") collapses to a
    # CASE over those sums — the former groupBy(query_id, res) + window
    # rank cost a second exchange plus a sort for the same answer
    # (guide §2.4: two operations keyed the same way share one exchange;
    # the selection itself needs no ordering, only 5 comparisons).
    ring_joined = counts.join(
        F.broadcast(q_ring.select("query_id", "res", "nx", "ny")),
        on=(F.col("kres") == F.col("res")) & (F.col("kx") == F.col("nx"))
        & (F.col("ky") == F.col("ny")),
    )
    per_level = [
        F.sum(F.when(F.col("res") == r, F.col("count"))).alias(f"s{r}")
        for r in res_levels
    ]
    pick = F.lit(None).cast("int")
    for r in res_levels:  # coarsest-first fallback: first level with rows
        pick = F.coalesce(pick,
                          F.when(F.col(f"s{r}").isNotNull(), F.lit(r)))
    for r in res_levels:  # finest qualifying level wins
        pick = F.when(F.col(f"s{r}") >= target, F.lit(r)).otherwise(pick)
    chosen = (
        ring_joined.groupBy("query_id").agg(*per_level)
        .select("query_id", pick.alias("res"))
    )

    # 3. single candidates join at each query's chosen res. The point side
    # explodes only to resolutions some query actually chose — derived
    # IN-PLAN as a broadcast distinct over `chosen` (typically 1-3 of the 5
    # levels survive, cutting the explode proportionally). No driver
    # collect: the whole join is one action, so the counts/selection
    # subtree runs as a broadcast stage instead of a serial pre-job.
    chosen = caching.stage(chosen)
    used_levels = chosen.select("res").distinct()
    q_cells = (
        q_ring.join(F.broadcast(chosen), ["query_id", "res"])
        .select("query_id", "qlon", "qlat", "res", "cx", "cy", "nx", "ny")
    )
    # finest-level tile ints once per point, coarser levels by shiftright:
    # floor(v * 2^f) >> (f - r) == floor(v * 2^r) exactly (and the [0,
    # 2^z-1] clamp commutes with the shift), so px/py are bit-identical to
    # re-evaluating the ln/tan tile math per (point x level) — that math
    # ran on every exploded row, inflating the candidates-join input stage
    # (same identity the counts rollup above already exploits).
    pts = (
        points
        .withColumn("fx", F.expr(tiles.tile_x_sql("lon", str(finest))))
        .withColumn("fy", F.expr(tiles.tile_y_sql("lat", str(finest))))
        .crossJoin(F.broadcast(used_levels))
        .withColumn("px", F.expr(f"shiftright(fx, {finest} - res)"))
        .withColumn("py", F.expr(f"shiftright(fy, {finest} - res)"))
        .drop("fx", "fy")
        .withColumnRenamed("res", "pres")
    )
    cand = pts.join(
        F.broadcast(q_cells),
        (pts.pres == q_cells.res) & (pts.px == q_cells.nx)
        & (pts.py == q_cells.ny),
    )
    # persist: topk is tiny (|queries| * k rows) but sits downstream of the
    # expensive candidates join, and is consumed twice (certified rows +
    # failed ids) — without this the join lineage recomputes.
    topk = caching.stage(_top_k(cand, k))

    # 4. certificate with res-dependent geometry (n = 2^res as a column).
    exact, certified = _certify(topk, k, ring, "pow(2.0, res)",
                                "(360.0 / pow(2.0, res))")
    failed = queries.join(F.broadcast(certified), "query_id", "left_anti") \
                    .select("query_id", "qlon", "qlat")
    # The brute-force branch is always planned: probing `failed` for rows
    # here would run the whole counts -> candidates -> top-k pipeline
    # while the plan is only being built. When every query certifies, AQE
    # prunes the empty branch once its broadcast side comes back empty.
    brute = _top_k(points.crossJoin(F.broadcast(failed)), k)
    return exact.unionByName(brute.select(*_KNN_COLS))


# ---------------------------------------------------------------------------
# No-broadcast kNN: the path for query sides too large to broadcast
# ---------------------------------------------------------------------------

def knn_join_shuffle(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 6,
    ring: int = 1,
) -> DataFrame:
    """Exact kNN with NO broadcast of any data-derived side — the path for
    query sides too large to broadcast (e.g. a kNN SELF-join for geo
    near-dup, where "queries" IS the 100 TB point table).

    Plan, at one fixed cell resolution ``res``: each query explodes to
    its (2*ring+1)^2 k-ring cells (x wraps at the date line; rows beyond
    the poles are dropped) and equi-joins the points on the cell; window
    top-k; per-query certificate (see the module docstring). Failures
    retry once with a 3x-wider ring — a sparse neighborhood needs reach,
    not a full scan — and those that still fail take a SALTED REPLICATED
    brute force, not a broadcast cross join: every residual query
    replicates to ``S = 2 x defaultParallelism`` salt buckets, points take
    pmod(hash, S), and an equi-join on the salt spreads the all-pairs work
    over S reducers. AQE prunes the empty escalation branches at run time.

    The certificate / anti joins carry no broadcast hint (both sides
    shuffle on query_id; AQE still picks broadcast at runtime when one
    side happens to be small — the plan never REQUIRES it). Only literal
    frames (ring offsets, salt ids) are ever broadcast.

    Output equals :func:`knn_join_adaptive` / the brute-force oracle
    exactly.
    """
    spark = points.sparkSession
    qs = _with_cell_xy(queries, "qlon", "qlat", res)

    exact1, cert1 = _ring_pass(points, qs, k, res, ring)
    failed1 = qs.join(cert1, "query_id", "left_anti")
    exact2, cert2 = _ring_pass(points, failed1, k, res, 3 * ring + 1)
    failed2 = failed1.join(cert2, "query_id", "left_anti") \
                     .select("query_id", "qlon", "qlat")

    n_salt = max(8, min(1024, 2 * spark.sparkContext.defaultParallelism))
    salts = spark.range(n_salt).select(F.col("id").cast("int").alias("_salt"))
    q_rep = failed2.crossJoin(F.broadcast(salts))
    pts_s = points.withColumn(
        "_salt", F.pmod(F.xxhash64("feature_id"), F.lit(n_salt)).cast("int"))
    brute = _top_k(pts_s.join(q_rep, "_salt"), k).select(*_KNN_COLS)
    return exact1.unionByName(exact2).unionByName(brute)
