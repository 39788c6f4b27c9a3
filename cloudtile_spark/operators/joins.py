"""Spatial joins: point-in-polygon and kNN.

The reference contains NO joins (single-input subprocess pipeline — SURVEY.md
§2.C); these are the operators the north rule adds: PIP via a coarse
bbox/cell candidate join + exact even-odd refine, kNN via cell k-ring
expansion with a certified-exact fallback. All coarse stages are JVM-side
equi/range joins; the PIP refine is an unrolled JVM expression, and Python
appears only as an Arrow-batched pandas kernel for rings too wide to unroll.

Scale design:
- PIP has one entry point per join contract, built from the same ring
  table, zone table and refine router: :func:`pip_join` broadcasts the
  (small) zone side, so the 100 TB point side never shuffles;
  :func:`pip_join_shuffle_codegen` shuffles the point side once on its
  cell id and plans no broadcast at all.
- kNN likewise has one entry point per join contract, built from the same
  ring-cell generator and window top-k with its certificate:
  :func:`knn_join_adaptive` broadcasts the (small) query side and picks a
  cell resolution per query; :func:`knn_join_shuffle` broadcasts nothing
  data-derived and shuffles both sides at one fixed resolution. Candidate
  lists per query are bounded by ring size, then window top-k runs on the
  (small) candidate set.
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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import caching, cells, geom, tiles
from ..session import salt_buckets
from .pyramid import _bbox_tiles

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


def _zone_frame(spark, rt: _Rings, codegen: bool) -> DataFrame:
    """The zone table, one row per zone: zone_id, the bbox and, on the
    codegen route, the vertex columns. Shipped as an Arrow table, so it
    plans as a LocalTableScan even when empty (a list of tuples, or an
    empty pandas frame, plans as an RDD scan: one Python-worker task per
    core on every read)."""
    import pyarrow as pa

    data = {"zone_id": rt.zone_id}
    data.update(zip(("xmin", "xmax", "ymin", "ymax"), rt.bbox.T))
    if codegen:
        names = ([f"x{i}" for i in range(rt.max_v)]
                 + [f"y{i}" for i in range(rt.max_v)])
        data.update(zip(names, rt.xy.T))
    schema = ", ".join(f"{c} {'long' if v.dtype.kind == 'i' else 'double'}"
                       for c, v in data.items())
    return spark.createDataFrame(pa.table(data), schema)


def _cell_cover(bbox: np.ndarray, res: int, width: int) -> int:
    """The cover resolution: the finest of res+2 .. res whose bbox tile
    cover keeps rows x ``width`` under PIP_CODEGEN_MAX_CELLS (range sizes
    from numpy; the cover itself is built in the plan, by
    ``pyramid._bbox_tiles``). At a coarse res the equi-join key has few
    distinct hot cells (metro hotspots), so a handful of shuffle
    partitions carry the whole candidate stream — measured 5.1s at res 7
    vs 1.0s at res 9 for the SAME ~110M candidates (skew, not volume).
    Output is invariant to the cover resolution.
    """
    for cand_res in range(min(res + 2, 14), res - 1, -1):
        # (lon_min, lat_min) -> (x0, y1); (lon_max, lat_max) -> (x1, y0)
        x0, y1 = tiles.lonlat_to_tile(bbox[:, 0], bbox[:, 2], cand_res)
        x1, y0 = tiles.lonlat_to_tile(bbox[:, 1], bbox[:, 3], cand_res)
        if int(np.sum((x1 - x0 + 1) * (y1 - y0 + 1))) * width \
                <= PIP_CODEGEN_MAX_CELLS:
            return cand_res
    return res


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
    """Exact filter of (point, zone) candidate pairs: the bbox test, then
    the ray cast.

    codegen: ONE filter, the bbox compares AND the unrolled ray cast over
    the vertex columns the zone table carries, so join and refine run
    inside WholeStageCodegen with no Python worker. It is one predicate
    because Catalyst pushes a filter over a join into the join condition
    AHEAD of the join's own condition: a bbox join condition under a ray
    cast filter ray-casts every pair. Otherwise: the bbox filter, then one
    mapInPandas kernel (geom.points_in_polygon per zone group) with the
    ring table in its closure, keyed by zone_id; it streams the
    candidates with no extra exchange.
    """
    if codegen:
        refine = f"{_BBOX_SQL} AND {_inside_sql(rt.max_v)}"
        return cand.where(refine).select(*_PIP_COLS)
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

    return cand.where(_BBOX_SQL).select(*_PIP_COLS) \
        .mapInPandas(kernel, schema=_PIP_SCHEMA)


def pip_join(points: DataFrame, zones_pdf: pd.DataFrame) -> DataFrame:
    """Exact point-in-polygon join, broadcast form.

    ``zones_pdf`` is a driver-side pandas frame (zone_id, ring) where ring
    is an (n, 2) float64 array — the polygon side of a PIP join is the
    small dimension (admin boundaries), so its ring table is broadcast and
    the point side streams through a broadcast nested-loop join whose
    condition is ``_refine``'s (zero shuffles).

    Returns (feature_id, lon, lat, zone_id): inner-join semantics,
    multi-match on overlapping zones preserved. Same rows as
    :func:`pip_join_shuffle_codegen`.
    """
    rt = _ring_table(zones_pdf)
    codegen = _codegen_fits(rt)
    zt = _zone_frame(points.sparkSession, rt, codegen)
    return _refine(points.join(F.broadcast(zt)), rt, codegen)


def pip_join_shuffle_codegen(
    points: DataFrame, zones_pdf: pd.DataFrame, res: int = 7,
) -> DataFrame:
    """Exact point-in-polygon join with NO broadcast: the form for zone
    sides too large to broadcast. Same rows as :func:`pip_join`.

    Plan: the zone table (zone_id, bbox, vertex columns; one row per
    zone) is DENORMALIZED into its cell cover IN THE PLAN — each zone
    explodes to the tiles its bbox touches (``pyramid._bbox_tiles``, the
    points' tile math), one row per (cover cell, zone) — so the whole
    join is ONE salted equi-join on the point's cell id followed by the
    bbox test and the refine. Exactly one shuffle of the point side,
    keyed on the high-cardinality cell id. A first cut joined a separate
    ring table on zone_id — that re-shuffles the full candidate set on a
    |zones|-cardinality key (measured 4.5x slower at 200 zones / 94M
    candidates); the denormalized cover keeps the ring constants on the
    small side. Over-budget rings take the Arrow refine, whose rings ride
    in the kernel's closure, so they never broadcast either.
    """
    spark = points.sparkSession
    rt = _ring_table(zones_pdf)
    codegen = _codegen_fits(rt)
    # the width cap bounds the cover (rows x columns)
    width = 6 + (2 * rt.max_v if codegen else 0)
    eff = _cell_cover(rt.bbox, res, width)
    cover = _bbox_tiles(_zone_frame(spark, rt, codegen),
                        "xmin", "ymin", "xmax", "ymax", str(eff))
    cover = cover.withColumn("cell", F.expr(cells.cell_xy_sql("x", "y", eff))) \
        .drop("x", "y")
    pts = points.withColumn("cell", F.expr(cells.cell_sql("lon", "lat", eff)))
    # salt the join key: even at the refined cover resolution a few metro
    # cells hold a large share of the points, and the post-join refine runs
    # inside the join stage — a deterministic per-row salt on the point
    # side spreads each hot cell's candidates over `salt` reducers (results
    # salt-invariant). Every salt replicates every cover row, so this site
    # takes a quarter of the session's salt: at 4 cores and 400 zones the
    # full salt (8, not 2) took 1.7x the task time (3.7 -> 6.3 s) for no
    # wall-time gain.
    salt = max(1, salt_buckets(spark) // 4)
    # explode (not a broadcast crossJoin): keeps the plan free of ANY
    # BroadcastExchange, preserving the operator's no-broadcast contract
    cover = cover.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    pts = pts.withColumn(
        "_salt", F.pmod(F.col("feature_id"), F.lit(salt)).cast("int"))
    # _refine's bbox compares short-circuit the ray cast: a cover cell is
    # up to a full cell wider than the zone's bbox.
    # shuffle_hash on the cover side: builds the per-partition hash map on
    # the small side instead of sorting the full point side (SortMergeJoin)
    # — measured ~8% faster at 4M points / 200 zones — and pins the
    # operator to its no-broadcast contract at ANY threshold setting.
    cand = pts.join(cover.hint("shuffle_hash"), ["cell", "_salt"])
    return _refine(cand, rt, codegen)


# ---------------------------------------------------------------------------
# kNN join (cell k-ring expansion + certified-exact fallback)
# ---------------------------------------------------------------------------

def _ring_bound_sql(ring: int, res: str) -> str:
    """SQL expr: conservative lower bound (meters) on the distance from a
    query point inside cell (cx, cy) at resolution ``res`` (SQL: a column
    or a literal) to the OUTSIDE of its k-ring.

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
    """
    n = f"pow(2.0, {res})"
    deg = f"(360.0 / {n})"
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


def _with_cell_xy(df: DataFrame, lon: str, lat: str, res: str,
                  x: str = "cx", y: str = "cy") -> DataFrame:
    """``df`` plus the cell ``x``, ``y`` of (lon, lat) at resolution ``res``
    (SQL: a column or a literal), in one projection."""
    return df.selectExpr("*", f"{tiles.tile_x_sql(lon, res)} AS {x}",
                         f"{tiles.tile_y_sql(lat, res)} AS {y}")


# The kNN ring, level and window steps are SQL text: each Column-API call
# is one driver round trip to the JVM, and a generator spelled as nested
# lit/struct/alias calls cost ~0.1 s of plan build per use; one selectExpr
# is one.
_KNN_COLS = ("query_id", "feature_id", "dist", "rank")
_KNN_TARGET = 64  # candidates the adaptive form's chosen ring must hold


def _ring_cells(qs: DataFrame, ring: int, res: str) -> DataFrame:
    """Query rows (query_id, qlon, qlat) fanned out to the cells (nx, ny)
    of the (2*ring+1)^2 k-ring around their own cell (cx, cy) at
    resolution ``res`` (SQL: a column or a literal): x wraps at the date
    line, rows beyond the poles drop. The ring is a JVM generator over
    literal offsets, so there is no literal frame to scan or broadcast (a
    list-of-tuples frame plans as an RDD scan, one Python-worker task per
    core on every read)."""
    n = f"shiftleft(1L, {res})"
    cells = ", ".join(
        f"named_struct('nx', pmod(cx + {dx}, {n}), 'ny', cy + {dy})"
        for dx in range(-ring, ring + 1) for dy in range(-ring, ring + 1))
    return (
        _with_cell_xy(qs, "qlon", "qlat", res)
        .selectExpr("*", f"inline(array({cells}))")
        .filter(f"ny >= 0 AND ny < {n}")
    )


def _level_cells(x: str, y: str, finest: int, levels: tuple[int, ...],
                 names: tuple[str, str, str]) -> str:
    """SQL generator: one (level, x, y) row, named ``names``, per entry of
    ``levels``, from the cell (x, y) at level ``finest`` by integer parent
    math. floor(v * 2^f) >> (f - r) == floor(v * 2^r) exactly, and the
    [0, 2^z - 1] clamp commutes with the shift, so the cells are
    bit-identical to re-evaluating the ln/tan tile math per level."""
    r_, x_, y_ = names
    return "inline(array({}))".format(", ".join(
        f"named_struct('{r_}', {r}, '{x_}', shiftright({x}, {finest - r}), "
        f"'{y_}', shiftright({y}, {finest - r}))" for r in levels))


def _top_k(cand: DataFrame, k: int, bound: str | None = None) -> DataFrame:
    """The k nearest candidates per query as ``_KNN_COLS``: drops
    self-pairs, adds the haversine ``dist`` and keeps ``rank <= k`` in
    (dist, feature_id) order, the brute-force oracle's tie-break, so output
    is deterministic.

    With a ring ``bound`` (_ring_bound_sql over the candidates' query
    columns) it adds ``ok``, the exactness certificate, as one window over
    the rank window's own query_id partitions (no exchange, no sort): a
    ring answer is provably exact iff the query has a rank-k row (>= k
    candidates) and that row's dist, the k-th distance, is within the
    bound."""
    top = (
        cand.filter("feature_id != query_id")
        .selectExpr("*", geom.haversine_sql("qlon", "qlat", "lon", "lat")
                    + " AS dist")
        .selectExpr("*", "row_number() OVER (PARTITION BY query_id"
                         " ORDER BY dist, feature_id) AS rank")
        .filter(f"rank <= {k}")
    )
    if bound is None:
        return top.select(*_KNN_COLS)
    return top.selectExpr(*_KNN_COLS, f"max(rank = {k} AND dist <= {bound})"
                                      " OVER (PARTITION BY query_id) AS ok")


def _certify(topk: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(exact top-k rows, ids) of the queries whose ``ok`` certificate
    holds in a certified :func:`_top_k` frame. A certified query has k >= 1
    rows, so its rank-1 row names it exactly once."""
    return (topk.filter("ok").select(*_KNN_COLS),
            topk.filter("ok AND rank = 1").select("query_id"))


def _ring_pass(
    points: DataFrame, qs: DataFrame, k: int, res: int, ring: int,
) -> tuple[DataFrame, DataFrame]:
    """One certified k-ring pass at (res, ring): (exact top-k rows for
    certified queries, certified query ids); callers decide how to join
    the certified-id frame."""
    pts = _with_cell_xy(points, "lon", "lat", str(res), "px", "py")
    cand = _ring_cells(qs, ring, str(res)).join(pts, F.expr(
        "nx = px AND ny = py"))
    return _certify(_top_k(cand, k, _ring_bound_sql(ring, str(res))))


def knn_join_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res_levels: tuple[int, ...] = (4, 6, 8, 10, 12),
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
         resolution (the finest level's counts, exploded to every level
         by integer parent math);
      2. each query picks the FINEST resolution whose k-ring holds >=
         ``_KNN_TARGET`` candidates: a broadcast join of every level's
         ring cells against the counts, then one aggregation by (query_id,
         qlon, qlat), so the chosen level's ring cells come from that
         aggregate's own rows with no join back to the ring table;
      3. ONE candidates join: the point side exploded to every level,
         probing the broadcast ring cells on (res, x, y), so levels no
         query chose drop in the probe; window top-k;
      4. per-query exactness certificate (k-th dist <= conservative
         distance to the chosen ring boundary) as one more window over
         the top-k partitions; the few failures brute-force in ONE final
         pass. Output equals brute force exactly, ties broken by (dist,
         feature_id).

    A single level, ``res_levels=(r,)``, is a fixed-resolution cell kNN:
    every query whose ring holds any point takes level r, and the
    certificate plus the brute-force pass keep sparse regions exact.

    Cost profile: 2 scans of the point side (counts + candidates join) plus
    a fallback scan; 4 shuffles (finest counts, the level pick, the top-k
    window, the fallback window) and 4 broadcasts (ring cells twice,
    certified ids, failed queries); ONE read of the caller's query side,
    staged for the ring counts and the certificate anti-join; the top-k
    rows with their certificate staged for the exact rows and the
    certified ids; no literal frames (levels and ring offsets are
    generator expressions, so no Python worker and no literal broadcast);
    no driver-side collect. Building or explaining the plan runs no Spark
    job.

    SIZE CONTRACT — the QUERY side must be broadcastable (same contract
    as pip_join's zone side): the query ring-cell table is shipped to
    every executor, so this variant assumes queries fit in executor
    memory (up to ~10^6-10^7 rows; the POINT side is unbounded). For a
    100 TB query side use :func:`knn_join_shuffle`, the no-broadcast
    equi-join formulation with identical output — bench.py headlines
    BOTH so the trade is measured, not assumed.
    """
    # `finest` and the level pick below assume ascending levels
    res_levels = tuple(sorted(set(res_levels)))
    finest = res_levels[-1]
    # the query side feeds the ring counts and the certificate anti-join:
    # read it once (the size contract already requires it to fit executor
    # memory; persist is lazy, so building the plan still runs no job)
    qs = caching.stage(queries.select("query_id", "qlon", "qlat"))

    # 1. cell counts at every resolution: ONE scan of the point side at the
    # finest level, exploded to each level's parent cell. No per-level
    # aggregation: the only consumer is the ring join + per-query sum
    # below, and summing finest-cell counts after the broadcast probe gives
    # the same sums with one exchange fewer.
    counts = (
        _with_cell_xy(points.select("lon", "lat"), "lon", "lat", str(finest))
        .groupBy("cx", "cy").count()
        .selectExpr(_level_cells("cx", "cy", finest, res_levels,
                                 ("kres", "kx", "ky")), "count")
    )

    # 2. ring cells per (query, res); pick finest res with enough candidates.
    # ONE aggregation keyed on the query computes every level's ring count
    # as a conditional sum, and the arg-max ("finest res whose ring holds
    # >= _KNN_TARGET candidates, else the coarsest level seen") is a CASE
    # over those sums: no second exchange, no sort.
    levels = ", ".join(map(str, res_levels))
    q_ring = _ring_cells(
        qs.selectExpr("*", f"explode(array({levels})) AS res"), ring, "res")
    ring_joined = counts.join(
        F.broadcast(q_ring.select("query_id", "qlon", "qlat", "res",
                                  "nx", "ny")),
        F.expr("kres = res AND kx = nx AND ky = ny"))
    per_level = [F.expr(f"sum(if(res = {r}, count, NULL)) AS s{r}")
                 for r in res_levels]
    # the finest qualifying level wins, else the coarsest level with rows
    pick = " ".join(
        [f"WHEN s{r} >= {_KNN_TARGET} THEN {r}" for r in res_levels[::-1]]
        + [f"WHEN s{r} IS NOT NULL THEN {r}" for r in res_levels])
    chosen = (
        ring_joined.groupBy("query_id", "qlon", "qlat").agg(*per_level)
        .selectExpr("query_id", "qlon", "qlat", f"CASE {pick} END AS res")
    )
    q_cells = _ring_cells(chosen, ring, "res").select(
        "query_id", "qlon", "qlat", "res", "cx", "cy", "nx", "ny")

    # 3. single candidates join at each query's chosen res: finest-level
    # tile ints once per point, every level by shiftright; the broadcast
    # probe drops the levels no query chose.
    pts = _with_cell_xy(points, "lon", "lat", str(finest), "fx", "fy") \
        .selectExpr("feature_id", "lon", "lat", _level_cells(
            "fx", "fy", finest, res_levels, ("pres", "px", "py")))
    cand = pts.join(F.broadcast(q_cells),
                    F.expr("pres = res AND px = nx AND py = ny"))
    # persist: topk is tiny (|queries| * k rows) but sits downstream of the
    # expensive candidates join, and is consumed twice (certified rows +
    # certified ids) — without this the join lineage recomputes.
    topk = caching.stage(_top_k(cand, k, _ring_bound_sql(ring, "res")))

    # 4. certified rows; the failed queries brute-force. The brute-force
    # branch is always planned: probing `failed` for rows here would run
    # the whole counts -> candidates -> top-k pipeline while the plan is
    # only being built. When every query certifies, AQE prunes the empty
    # branch once its broadcast side comes back empty.
    exact, certified = _certify(topk)
    failed = qs.join(F.broadcast(certified), "query_id", "left_anti")
    brute = _top_k(points.crossJoin(F.broadcast(failed)), k)
    return exact.unionByName(brute)


# ---------------------------------------------------------------------------
# No-broadcast kNN: the path for query sides too large to broadcast
# ---------------------------------------------------------------------------

def knn_join_shuffle(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 6,
) -> DataFrame:
    """Exact kNN with NO broadcast of any data-derived side — the path for
    query sides too large to broadcast (e.g. a kNN SELF-join for geo
    near-dup, where "queries" IS the 100 TB point table).

    Plan, at one fixed cell resolution ``res``: each query explodes to
    its 3x3 k-ring cells (x wraps at the date line; rows beyond the
    poles are dropped) and equi-joins the points on the cell; window
    top-k; per-query certificate (see the module docstring). Failures
    retry once with the 9x9 ring — a sparse neighborhood needs reach,
    not a full scan — and those that still fail take a SALTED REPLICATED
    brute force, not a broadcast cross join: every residual query
    replicates to ``S = session.salt_buckets`` salt buckets, points take
    pmod(hash, S), and an equi-join on the salt spreads the all-pairs work
    over S reducers. AQE prunes the empty escalation branches at run time.

    The certificate / anti joins carry no broadcast hint (both sides
    shuffle on query_id; AQE still picks broadcast at runtime when one
    side happens to be small — the plan never REQUIRES it). Ring offsets
    and salt ids are generator expressions on the query rows, so nothing
    is ever broadcast by hint. The query side is not staged: it may be as
    large as the point side.

    Output equals :func:`knn_join_adaptive` / the brute-force oracle
    exactly.
    """
    exact1, cert1 = _ring_pass(points, queries, k, res, 1)
    failed1 = queries.join(cert1, "query_id", "left_anti")
    exact2, cert2 = _ring_pass(points, failed1, k, res, 4)
    failed2 = failed1.join(cert2, "query_id", "left_anti") \
                     .select("query_id", "qlon", "qlat")

    n_salt = salt_buckets(points.sparkSession)
    # explode (not a broadcast crossJoin of a salt frame): the plan holds
    # no BroadcastExchange at all when the threshold is off
    q_rep = failed2.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    pts_s = points.withColumn(
        "_salt", F.pmod(F.xxhash64("feature_id"), F.lit(n_salt)).cast("int"))
    brute = _top_k(pts_s.join(q_rep, "_salt"), k)
    return exact1.unionByName(exact2).unionByName(brute)
