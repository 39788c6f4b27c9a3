"""Tile-pyramid build — the Spark-native replacement for the reference's
``tippecanoe ... -o out.pmtiles in.fgb`` subprocess (reference
src/cloudtile/geofile.py:193-236; settings contract
src/cloudtile/tippecanoe.yaml, defaults asserted by reference
tests/test_tippecanoe.py:75-98).

Plan shape (all relational until the optional MVT encode):

    features(feature_id, lon, lat, ...)
      -> explode z in [minz, maxz]            (F.sequence + explode; narrow)
      -> x, y = web-mercator tile math        (pure column exprs, codegen)
      -> per-tile feature cap (top-k)         (SALTED two-phase window —
                                               dense metro tiles are the skew
                                               the north rule calls out)
      -> groupBy(z, x, y) summary             (count, sorted ids, checksum)

Scale notes (100 TB / 1000 executors):
- The explode is a narrow map — no shuffle until the top-k.
- Top-k is two-phase: phase 1 partitions by (z,x,y,salt) so a world-scale
  hot tile (z0 holds EVERY feature) is spread over ``salt_buckets``
  reducers, each keeping at most ``cap`` rows; phase 2 re-ranks the
  <= salt_buckets*cap survivors exactly. Deterministic: priority is
  (feature_id), unique, so results are identical at any parallelism.
- feature_ids lists are bounded by the cap (20k default) — no unbounded
  collect_list.
- AQE skew-join/partition-coalesce stays on (session.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import caching, tiles
from ..settings import TilingSettings

DEFAULT_SALT_BUCKETS = 32  # floor; see salt_buckets_for


def salt_buckets_for(df: DataFrame, salt_buckets: Optional[int] = None) -> int:
    """Salt-bucket count scaled to the session's parallelism.

    A constant 32 funnels a z0 hot tile through 32 reducers no matter the
    cluster: at 1000 executors that's a 32-wide bottleneck. Derive from
    ``defaultParallelism`` (2x, so stragglers interleave), floored at
    DEFAULT_SALT_BUCKETS and capped at 4096 (phase 2 merges salt*cap
    structs per tile — the cap bounds that merge). The two-phase top-cap
    is salt-count-invariant (tests pin salt=8 == salt=256 output), so this
    only moves the parallelism/merge-width trade-off, never results.
    """
    if salt_buckets is not None:
        return salt_buckets
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # session-less frame in tests
        par = DEFAULT_SALT_BUCKETS
    return max(DEFAULT_SALT_BUCKETS, min(4096, 2 * int(par)))


def project_to_4326(df: DataFrame, settings: Optional[TilingSettings],
                    lon: str = "lon", lat: str = "lat") -> DataFrame:
    """tippecanoe ``projection`` (yaml:23-24): the declared INPUT
    projection. EPSG:4326 (default) passes through; EPSG:3857 coordinates
    (web-mercator meters in the lon/lat columns) reproject with the shared
    inverse-mercator SQL builders — pure column math, codegen-friendly, no
    UDF. Anything else fails loudly rather than silently mis-projecting."""
    proj = settings.get("projection") if settings else None
    if not proj:
        return df
    code = str(proj).upper().replace("EPSG:", "")
    if code == "4326":
        return df
    if code == "3857":
        return df.withColumn(lon, F.expr(tiles.merc_to_lon_sql(lon))) \
                 .withColumn(lat, F.expr(tiles.merc_to_lat_sql(lat)))
    raise NotImplementedError(
        f"projection {proj!r} unsupported (EPSG:4326 or EPSG:3857 input)")


def assign_xy(df: DataFrame, z_expr: str = "z",
              lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Add x, y tile-coordinate columns for (lon, lat) at zoom column/literal
    ``z_expr`` — pure JVM-side arithmetic (tiles.py builders)."""
    return df.withColumn("x", F.expr(tiles.tile_x_sql(lon, z_expr))) \
             .withColumn("y", F.expr(tiles.tile_y_sql(lat, z_expr)))


def explode_zooms(df: DataFrame, minz: int, maxz: int) -> DataFrame:
    """One output row per (feature, zoom) — the pyramid fan-out.

    For point features each zoom contributes exactly one tile, so fan-out is
    (maxz - minz + 1)x, a narrow map with no shuffle. (Polygon/line tile-cover
    with >1 tile per feature lives in the MVT encode path, operators/mvt.py.)
    """
    return df.withColumn(
        "z", F.explode(F.sequence(F.lit(minz), F.lit(maxz)))
    )


def topk_per_tile(
    df: DataFrame,
    cap: int,
    order_col: str = "feature_id",
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Keep the first ``cap`` features per (z, x, y), ordered by ``order_col``
    (tippecanoe maximum-tile-features, reference tippecanoe.yaml:107).

    Two-phase salted top-k (see module docstring). Exact and deterministic
    because ``order_col`` is unique per tile.
    """
    salt = (F.col(order_col) % salt_buckets_for(df, salt_buckets)).cast("int")
    w1 = Window.partitionBy("z", "x", "y", "_salt").orderBy(order_col)
    w2 = Window.partitionBy("z", "x", "y").orderBy(order_col)
    return (
        df.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= cap)
        .drop("_rn", "_salt")
    )


def tile_summary(df: DataFrame, with_ids: bool = True) -> DataFrame:
    """groupBy(z,x,y) -> feature_count [+ sorted feature_ids + checksum].

    The checksum column is the per-tile lineage fingerprint (sha256 over the
    comma-joined sorted id list) — the analogue of the reference's md5
    content-identity (reference src/cloudtile/s3.py:211-227), at tile
    granularity so checkpoint-resume can skip completed tiles.
    """
    aggs = [F.count("*").alias("feature_count")]
    if with_ids:
        aggs.append(
            F.sort_array(F.collect_list("feature_id")).alias("feature_ids")
        )
    out = df.groupBy("z", "x", "y").agg(*aggs)
    if with_ids:
        out = out.withColumn(
            "checksum",
            F.sha2(F.concat_ws(",", F.col("feature_ids")), 256),
        )
    return out


def capped_tile_summary(
    df: DataFrame,
    cap: int,
    with_ids: bool = True,
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Aggregation-only equivalent of topk_per_tile + tile_summary.

    Semantics: feature_count = min(total, cap); feature_ids = the ``cap``
    smallest feature_ids in the tile. Identical output to the window path
    (asserted in tests); the physical plan is hash aggregates, never a
    sort shuffle.

    What salting does and does NOT buy (measured, BENCH/SKEW.md):
    collect_list partial aggregation concatenates, so shuffle bytes carry
    every id either way. UNSALTED, the hot tile's complete id list (z0 =
    every feature on the planet) materializes in ONE reducer's aggregation
    buffer — an OOM long before 100 TB. SALTED, each buffer holds one
    (tile, salt) slice and phase 2 merges <= salt*cap ids per tile:
    reducer memory is bounded, bought with one extra exchange (~2x wall at
    test scale, where nothing is near memory limits).

    The true 100 TB path for unbounded tiles is ``with_ids=False`` (pure
    count, map-side combined, one row per tile shuffled); id lists are for
    bounded/golden outputs.
    """
    if not with_ids:
        # counts only: min(total, cap) needs no ids at all — one hash agg
        # whose shuffle is one row per tile after map-side combine.
        return (
            df.groupBy("z", "x", "y")
            .agg(F.count("*").alias("_total"))
            .select(
                "z", "x", "y",
                F.least(F.col("_total"), F.lit(cap).cast("long"))
                 .alias("feature_count"),
            )
        )
    salt = (F.col("feature_id")
            % salt_buckets_for(df, salt_buckets)).cast("int")
    part = (
        df.groupBy("z", "x", "y", salt.alias("_salt"))
        .agg(
            F.count("*").alias("_n"),
            F.slice(F.sort_array(F.collect_list("feature_id")), 1, cap)
             .alias("_ids"),
        )
    )
    merged = part.groupBy("z", "x", "y").agg(
        F.sum("_n").alias("_total"),
        F.slice(F.array_sort(F.flatten(F.collect_list("_ids"))), 1, cap)
         .alias("feature_ids"),
    )
    return merged.select(
        "z", "x", "y",
        F.least(F.col("_total"), F.lit(cap).cast("long"))
         .alias("feature_count"),
        "feature_ids",
        F.sha2(F.concat_ws(",", F.col("feature_ids")), 256)
         .alias("checksum"),
    )


def build_pyramid(
    features: DataFrame,
    settings: Optional[TilingSettings] = None,
    minz: Optional[int] = None,
    maxz: Optional[int | str] = None,
    with_ids: bool = True,
) -> DataFrame:
    """features -> tiles(z, x, y, feature_count[, feature_ids, checksum]).

    Zoom plumbing mirrors the reference (src/cloudtile/geofile.py:194-216):
    explicit args win; missing zooms at tiling time raise TypeError; maxz="g"
    triggers the guess pass (tippecanoe's ``maximum-zoom: g``,
    cli/parsers.py:146-150).
    """
    settings = settings if settings is not None else TilingSettings()
    if minz is not None:
        settings["minimum-zoom"] = minz
    if maxz is not None:
        settings["maximum-zoom"] = maxz
    if "minimum-zoom" not in settings or "maximum-zoom" not in settings:
        raise TypeError(
            "minimum-zoom and maximum-zoom are required to build a pyramid"
        )
    lo = settings["minimum-zoom"]
    hi = settings["maximum-zoom"]
    # Reproject BEFORE the zoom guess: with projection=EPSG:3857 the raw
    # coords are web-mercator meters, which the density heuristic would
    # otherwise misread as degrees (ADVICE r3).
    features = project_to_4326(features, settings)
    if hi == "g":
        hi = guess_max_zoom(features, settings["maximum-tile-features"])
    cap = settings["maximum-tile-features"]
    df = assign_xy(explode_zooms(features, lo, hi))
    return capped_tile_summary(df, cap, with_ids=with_ids)


def extend_zooms_while_dropping(
    features: DataFrame,
    cap: int,
    minz: int,
    maxz: int,
    hard_limit: int = 15,
    settings: Optional[TilingSettings] = None,
) -> int:
    """tippecanoe ``extend-zooms-if-still-dropping`` (reference
    tippecanoe.yaml:27): if the deepest requested zoom still drops features
    (densest tile > cap), extend max zoom until nothing drops or the hard
    limit. One aggregate job over all candidate extension zooms at once —
    a driver decision over a tiny result, not a per-zoom loop.

    Drop-strategy FEEDBACK (round-2 verdict B17): the density that decides
    extension is measured AFTER the configured merge/thinning strategy,
    not on raw counts — a zoom where clustering or gamma thinning brings
    the densest tile under the cap is NOT "still dropping":

    * ``cluster-distance`` (tippecanoe.yaml:56): features snapping to the
      same pixel-grid cell MERGE into one emitted cluster, so the
      effective density is the DISTINCT snapped-cell count per tile
      (global mercator pixels at zoom z = tile coords at z+8, / distance);
    * ``gamma`` (tippecanoe.yaml:66): per pixel-bucket retention is
      ceil(n^(1/gamma)), so effective density is the sum of retained
      counts per tile.

    Both still run as ONE aggregation over every candidate zoom.
    """
    exploded = assign_xy(explode_zooms(
        features.select("lon", "lat"), maxz, hard_limit))
    cd = settings.get("cluster-distance") if settings else None
    gamma = settings.get("gamma") if settings else None
    if cd:
        # snapped pixel cell at zoom z: global pixel coords are tile
        # coords at zoom z+8 (2^(z+8) = 2^z * 256), bucketed by distance
        gx = f"cast(floor(({tiles.tile_x_sql('lon', '(z + 8)')}) " \
             f"/ {float(cd)!r}) as bigint)"
        gy = f"cast(floor(({tiles.tile_y_sql('lat', '(z + 8)')}) " \
             f"/ {float(cd)!r}) as bigint)"
        per_tile = (
            exploded.withColumn("gx", F.expr(gx)).withColumn("gy", F.expr(gy))
            .groupBy("z", "x", "y")
            .agg(F.countDistinct("gx", "gy").alias("eff"))
        )
    elif gamma:
        gx = f"cast(floor(({tiles.tile_x_sql('lon', '(z + 8)')})) as bigint)"
        gy = f"cast(floor(({tiles.tile_y_sql('lat', '(z + 8)')})) as bigint)"
        per_tile = (
            exploded.withColumn("gx", F.expr(gx)).withColumn("gy", F.expr(gy))
            .groupBy("z", "x", "y", "gx", "gy").count()
            .groupBy("z", "x", "y")
            .agg(F.sum(F.ceil(F.pow(F.col("count").cast("double"),
                                    1.0 / float(gamma)))).alias("eff"))
        )
    else:
        per_tile = exploded.groupBy("z", "x", "y").agg(
            F.count("*").alias("eff"))
    per_z_max = dict(
        (r.z, r.max_per_tile)
        for r in per_tile.groupBy("z")
        .agg(F.max("eff").alias("max_per_tile")).collect()
    )
    z = maxz
    while z < hard_limit and per_z_max.get(z, 0) > cap:
        z += 1
    return z


def density_capped_summary(
    features: DataFrame,
    z: int,
    cap: int,
    density_res_offset: int = 4,
) -> DataFrame:
    """Per-tile cap with tippecanoe's densest-first drop order
    (``coalesce-densest-as-needed`` / ``drop-densest-as-needed`` priority,
    reference tippecanoe.yaml:55-62): when a tile exceeds the cap, features
    in the DENSEST sub-areas are sacrificed first, preserving spatial
    coverage — unlike the id-priority cap, which is order-biased.

    density = feature count of the containing fine cell (z + offset); keep
    order = (density ASC, feature_id ASC), deterministic at any parallelism.

    Plan: one hash-agg for the density table (small: one row per non-empty
    fine cell), join back, then a SALTED two-phase top-k per tile — same
    shape as capped_tile_summary. An unsalted window here would sort the z0
    hot tile (every feature on the planet) on one reducer chain; instead
    phase 1 takes each (tile, salt) slice's top-``cap`` by (density,
    feature_id) and phase 2 merges <= salt_buckets * cap structs per tile,
    so reducer memory is bounded at any input size. Top-cap of a union
    equals top-cap of the union of per-slice top-caps, so the kept set is
    identical to the window plan (asserted in tests).
    """
    fine = assign_xy(
        features.withColumn("z", F.lit(z + density_res_offset))
    ).withColumnRenamed("x", "fx").withColumnRenamed("y", "fy").drop("z")
    dens = fine.groupBy("fx", "fy").agg(F.count("*").alias("density"))
    with_d = fine.join(dens, ["fx", "fy"]).drop("fx", "fy")
    df = assign_xy(with_d.withColumn("z", F.lit(z)))
    salt = (F.col("feature_id")
            % salt_buckets_for(df)).cast("int")
    part = (
        df.groupBy("z", "x", "y", salt.alias("_salt"))
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("density", "feature_id"))),
                1, cap,
            ).alias("_top")
        )
    )
    merged = part.groupBy("z", "x", "y").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, cap)
         .alias("_kept")
    )
    return merged.select(
        "z", "x", "y",
        F.size("_kept").cast("long").alias("feature_count"),
        F.sort_array(F.expr("transform(_kept, s -> s.feature_id)"))
         .alias("feature_ids"),
    ).withColumn(
        "checksum", F.sha2(F.concat_ws(",", F.col("feature_ids")), 256)
    )


def coalesce_densest_summary(
    features: DataFrame,
    z: int,
    cap: int,
    density_res_offset: int = 4,
) -> DataFrame:
    """tippecanoe ``coalesce-densest-as-needed`` — the reference's ACTIVE
    default (tippecanoe.yaml:62, asserted by reference
    tests/test_geofile.py:143) — with true UNION-MERGE semantics: over-cap
    tiles sacrifice features from the densest sub-cells first, but instead
    of dropping them (drop-densest-as-needed), each sacrificed feature
    MERGES into a surviving neighbor; the survivor carries the merged
    multiplicity and the geometric union (bbox) of everything it absorbed.
    Feature COUNT is conserved: sum(multiplicity) per tile == pre-cap
    feature count (pinned in tests + the oracle).

    Deterministic merge rule (parallelism-independent, SQL-expressible so
    the DuckDB oracle can replicate it):
      keep set   = top-``cap`` by (fine-cell density ASC, feature_id ASC)
      survivor   = min kept feature_id in the sacrificed feature's fine
                   cell, else the tile's min kept feature_id
      union geom = bbox over survivor + absorbed members

    Plan: hash aggregates + broadcast-able joins only — the keep set is the
    salted two-phase top-cap (no window over a hot tile), cell/tile
    survivor tables are <= cap rows per tile, and the final merge is a
    groupBy on survivor id.
    """
    fine = assign_xy(
        features.withColumn("z", F.lit(z + density_res_offset))
    ).withColumnRenamed("x", "fx").withColumnRenamed("y", "fy").drop("z")
    dens = fine.groupBy("fx", "fy").agg(F.count("*").alias("density"))
    # persist: the feature+density table is consumed twice (keep-set agg,
    # merge join) — without it the density join recomputes per consumer
    df = caching.stage(assign_xy(
        fine.join(dens, ["fx", "fy"]).withColumn("z", F.lit(z))))

    # salted exact top-cap membership by (density, feature_id); kept
    # members carry their fine cell so EVERY survivor table below derives
    # from this one tiny frame (<= 1 row per tile, <= cap structs each) —
    # never from a second pass over the feature table
    salt = (F.col("feature_id")
            % salt_buckets_for(df)).cast("int")
    part = (
        df.groupBy("z", "x", "y", salt.alias("_salt"))
        .agg(F.slice(
            F.array_sort(F.collect_list(
                F.struct("density", "feature_id", "fx", "fy"))),
            1, cap).alias("_top"))
    )
    merged = (
        part.groupBy("z", "x", "y")
        .agg(F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, cap)
             .alias("_kept"))
    )
    merged = caching.stage(merged)
    kept_ids = merged.select(
        "z", "x", "y",
        F.explode(F.expr("transform(_kept, s -> s.feature_id)"))
         .alias("feature_id"),
        F.lit(True).alias("_is_kept"),
    )
    cell_surv = (
        merged.select("z", "x", "y", F.explode("_kept").alias("_s"))
        .groupBy("z", "x", "y", F.col("_s.fx").alias("fx"),
                 F.col("_s.fy").alias("fy"))
        .agg(F.min("_s.feature_id").alias("_cell_surv"))
    )
    tile_surv = merged.select(
        "z", "x", "y",
        F.expr("array_min(transform(_kept, s -> s.feature_id))")
         .alias("_tile_surv"),
    )

    assigned = (
        df
        .join(kept_ids, ["z", "x", "y", "feature_id"], "left")
        .join(cell_surv, ["z", "x", "y", "fx", "fy"], "left")
        .join(tile_surv, ["z", "x", "y"])
        .withColumn(
            "survivor_id",
            F.when(F.coalesce("_is_kept", F.lit(False)), F.col("feature_id"))
             .otherwise(F.coalesce("_cell_surv", "_tile_surv")))
    )
    return assigned.groupBy("z", "x", "y", "survivor_id").agg(
        F.count("*").cast("long").alias("multiplicity"),
        F.min("lon").alias("bbox_w"), F.max("lon").alias("bbox_e"),
        F.min("lat").alias("bbox_s"), F.max("lat").alias("bbox_n"),
    )


def guess_max_zoom(
    features: DataFrame, cap: int, z_lo: int = 0, z_hi: int = 14
) -> int:
    """tippecanoe's ``maximum-zoom: g``: the lowest zoom at which the densest
    tile holds <= cap features (one cheap aggregate job over all candidate
    zooms at once, not a driver loop)."""
    per_z_max = (
        assign_xy(explode_zooms(features.select("lon", "lat"), z_lo, z_hi))
        .groupBy("z", "x", "y").count()
        .groupBy("z").agg(F.max("count").alias("max_per_tile"))
        .filter(F.col("max_per_tile") <= cap)
        .agg(F.min("z").alias("zg"))
        .collect()
    )
    zg = per_z_max[0]["zg"]
    return int(zg) if zg is not None else z_hi
