"""Tile-pyramid build — the Spark-native replacement for the reference's
``tippecanoe ... -o out.pmtiles in.fgb`` subprocess (reference
src/cloudtile/geofile.py:193-236; settings contract
src/cloudtile/tippecanoe.yaml, defaults asserted by reference
tests/test_tippecanoe.py:75-98).

Plan shape (all relational until the optional MVT encode):

    features(feature_id, lon, lat, ...)
      -> explode z in [minz, maxz]            (F.sequence + explode; narrow)
      -> x, y = web-mercator tile math        (pure column exprs, codegen)
      -> per-tile feature cap (_top_cap)      (SALTED two-phase hash agg —
                                               dense metro tiles are the skew
                                               the north rule calls out)
      -> z, x, y summary                      (count, sorted ids, checksum)

Two decisions are made once, here, and every tiler — ``build_pyramid``,
plans/lineage.py's ``resume_pyramid``, operators/mvt.py's encoders and
the CLI — asks for them:

- ``tiling_input`` resolves the tiler's input: the projection (EPSG:3857
  reprojects to lon/lat degrees) and the zoom range (explicit args win,
  a missing zoom raises, ``maximum-zoom: g`` is guessed and
  ``extend-zooms-if-still-dropping`` extends, both on the reprojected
  coordinates and never below the minimum zoom);
- ``tile_limits`` is the only reader of the cap and byte-budget settings.

Scale notes (100 TB / 1000 executors):
- The explode is a narrow map — no shuffle until the top-cap.
- ``_top_cap`` is two-phase: phase 1 groups by (z, x, y, salt) so a
  world-scale hot tile (z0 holds EVERY feature) is spread over
  ``session.salt_buckets`` reducers, each keeping its ``cap`` smallest
  keys; phase 2 merges the <= salt*cap survivors per tile exactly. The
  top-cap of a union is the top-cap of the per-slice top-caps, so the
  result is identical to a window top-k at any salt count and parallelism
  (keys are unique: they lead with or contain feature_id).
- collect_list partial aggregation concatenates, so shuffle bytes carry
  every key either way; what salting buys is memory: unsalted, the hot
  tile's whole key list lands in ONE aggregation buffer (BENCH/SKEW.md).
  Pure counts (``with_ids=False``) skip the kernel: one map-side-combined
  hash agg, one row per tile shuffled.
- AQE skew-join/partition-coalesce stays on (session.py).
"""

from __future__ import annotations

import copy
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import caching, tiles
from ..session import parallelism, salt_buckets
from ..settings import TilingSettings

_INT32_MAX = 2**31 - 1  # F.slice takes an int length: "no limit" is this
_DENSITY_ZOOMS = 4  # density cells are tiles this many zooms deeper
_GUESS_MAX_ZOOM, _EXTEND_MAX_ZOOM = 14, 15


def tile_limits(settings: Optional[TilingSettings]) -> tuple[int, int, int]:
    """(cap below max zoom, cap at max zoom, tile byte budget) — the one
    reading of tippecanoe's per-tile limits (reference tippecanoe.yaml:
    105-107): ``maximum-tile-features``, overridden by
    ``limit-tile-feature-count`` and, at the max zoom, by
    ``limit-tile-feature-count-at-maximum-zoom``; ``no-feature-limit``
    lifts both caps. ``maximum-tile-bytes`` unless ``no-tile-size-limit``.
    Every value is clamped to int32, the length type of ``F.slice``."""
    s = settings if settings is not None else TilingSettings()
    if s.get("no-feature-limit"):
        cap = cap_at_max = _INT32_MAX
    else:
        cap = int(s.get("limit-tile-feature-count")
                  or s["maximum-tile-features"])
        cap_at_max = int(s.get("limit-tile-feature-count-at-maximum-zoom")
                         or cap)
    max_bytes = (_INT32_MAX if s.get("no-tile-size-limit")
                 else int(s["maximum-tile-bytes"]))
    return tuple(min(v, _INT32_MAX) for v in (cap, cap_at_max, max_bytes))


def tile_cap(settings: Optional[TilingSettings], maxz: int) -> Column:
    """``tile_limits``' feature cap as a column of the row's zoom ``z``."""
    cap, cap_at_max, _ = tile_limits(settings)
    return F.when(F.col("z") == maxz, cap_at_max).otherwise(cap)


def epsg_code(settings: Optional[TilingSettings]) -> str:
    """The declared INPUT projection's EPSG code (tippecanoe
    ``projection``, yaml:23-24), "4326" when unset."""
    proj = settings.get("projection") if settings else None
    return str(proj).upper().removeprefix("EPSG:") if proj else "4326"


def project_to_4326(df: DataFrame, settings: Optional[TilingSettings],
                    lon: str = "lon", lat: str = "lat") -> DataFrame:
    """EPSG:4326 (default) passes through; EPSG:3857 coordinates
    (web-mercator meters in the lon/lat columns) reproject with the shared
    inverse-mercator SQL builders — pure column math, codegen-friendly, no
    UDF. Anything else fails loudly rather than silently mis-projecting,
    and so does any projection but EPSG:4326 on a WKB source (its
    geometry is not lon/lat columns: reprojecting would rewrite every
    ring)."""
    code = epsg_code(settings)
    if code == "4326":
        return df
    if lon not in df.columns or "geom_wkb" in df.columns:
        raise NotImplementedError(
            f"projection EPSG:{code} unsupported for WKB geometry sources "
            "(EPSG:4326 only)")
    if code == "3857":
        return df.withColumn(lon, F.expr(tiles.merc_to_lon_sql(lon))) \
                 .withColumn(lat, F.expr(tiles.merc_to_lat_sql(lat)))
    raise NotImplementedError(
        f"projection {settings['projection']!r} unsupported "
        "(EPSG:4326 or EPSG:3857 input)")


def tiling_input(
    features: DataFrame,
    settings: Optional[TilingSettings] = None,
    minz: Optional[int] = None,
    maxz: Optional[int | str] = None,
) -> tuple[DataFrame, TilingSettings]:
    """The one tiler prelude: (features in EPSG:4326, settings with
    concrete zooms) for every tiler, as tippecanoe resolves them
    (reference src/cloudtile/geofile.py:194-234).

    Works on a copy: the caller's settings are never changed. Explicit
    ``minz``/``maxz`` win over the settings' zooms; a zoom missing from
    both raises TypeError. The features reproject first, so the searches
    below read degrees. ``maximum-zoom: g`` (cli/parsers.py:146-150) is
    the lowest zoom in [minz, 14] whose densest tile fits the max-zoom
    cap; ``extend-zooms-if-still-dropping`` (tippecanoe.yaml:27) then
    deepens the max zoom up to z15 while the densest tile still drops
    features after the drop strategy. Each search is one Spark job over
    the lon/lat columns: a WKB source raises NotImplementedError.

    The returned settings say EPSG:4326, hold both zooms as ints and have
    the extension cleared, so a second call on the output changes nothing
    and runs no job."""
    s = copy.copy(settings) if settings is not None else TilingSettings()
    lo = minz if minz is not None else s.get("minimum-zoom")
    hi = maxz if maxz is not None else s.get("maximum-zoom")
    if lo is None or hi is None:
        raise TypeError("minimum-zoom and maximum-zoom are required to tile")
    features = project_to_4326(features, s)
    cap = tile_limits(s)[1]
    if hi == "g":
        hi = _lowest_fitting_zoom(features, cap, lo, _GUESS_MAX_ZOOM)
    if s.get("extend-zooms-if-still-dropping"):
        hi = _lowest_fitting_zoom(features, cap, hi, _EXTEND_MAX_ZOOM, s)
    # drop both zooms first: the order validator compares each with the
    # other, and the caller's pair may sit anywhere
    s.pop("minimum-zoom", None)
    s.pop("maximum-zoom", None)
    s.update({"minimum-zoom": lo, "maximum-zoom": hi,
              "projection": "EPSG:4326",
              "extend-zooms-if-still-dropping": False})
    return features, s


def assign_xy(df: DataFrame, z_expr: str = "z",
              lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Add x, y tile-coordinate columns for (lon, lat) at zoom column/literal
    ``z_expr`` — pure JVM-side arithmetic (tiles.py builders)."""
    return df.withColumn("x", F.expr(tiles.tile_x_sql(lon, z_expr))) \
             .withColumn("y", F.expr(tiles.tile_y_sql(lat, z_expr)))


def explode_zooms(df: DataFrame, minz: int, maxz: int) -> DataFrame:
    """One output row per (feature, zoom) — the pyramid fan-out.

    For point features each zoom contributes exactly one tile, so fan-out is
    (maxz - minz + 1)x, a narrow map with no shuffle. (Polygons and lines
    cover more than one tile per zoom: ``_bbox_tiles``.)
    """
    return df.withColumn(
        "z", F.explode(F.sequence(F.lit(minz), F.lit(maxz)))
    )


def _bbox_tiles(df: DataFrame, xmin: str, ymin: str, xmax: str, ymax: str,
                z: str = "z", max_tiles: int | None = None) -> DataFrame:
    """The one bbox tile cover: one output row per tile (x, y) at zoom
    ``z`` that each row's lon/lat bbox touches (x outer, y inner). The
    bbox bounds and ``z`` are SQL expressions over ``df``. x spans the
    tiles of the min and max lon and y those of the max and min lat, by
    the ``tiles`` SQL of ``assign_xy``, so a point inside a bbox
    always lands in one of its cover tiles. A row whose cover holds more
    than ``max_tiles`` tiles is dropped before the explode."""
    x0, x1 = (F.expr(tiles.tile_x_sql(v, z)) for v in (xmin, xmax))
    y0, y1 = (F.expr(tiles.tile_y_sql(v, z)) for v in (ymax, ymin))
    if max_tiles is not None:
        df = df.where((x1 - x0 + 1) * (y1 - y0 + 1) <= max_tiles)
    return df.withColumn("x", F.explode(F.sequence(x0, x1))) \
             .withColumn("y", F.explode(F.sequence(y0, y1)))


def _map_tiles(df: DataFrame,
               kernel: Callable[[int, int, int, pd.DataFrame], list[tuple]],
               schema: T.StructType) -> DataFrame:
    """The tile-sorted multi-tile mapInPandas: ``kernel(z, x, y, rows)``
    returns the output rows of one (z, x, y) tile from all of its rows.

    ``df`` is hash-repartitioned on (z, x, y) to ``session.parallelism``
    partitions. That is a REPARTITION_BY_NUM exchange, which AQE does not
    coalesce by bytes, so a small shuffle feeding CPU-bound Python still
    runs on every core. Each partition is sorted by (z, x, y) and each
    Arrow batch is cut into tile runs with numpy. The last run of a batch
    may go on in the next one, so its pieces are held until the tile ends
    and joined once. Each batch yields one output frame, however many
    tiles it holds."""
    names = schema.fieldNames()

    def run(batches):
        tile, pieces = None, []  # the open tile run and its row pieces
        for pdf in batches:
            key = pdf[["z", "x", "y"]].to_numpy()
            cuts = np.flatnonzero((key[1:] != key[:-1]).any(axis=1)) + 1
            out = []
            for s, e in zip(np.r_[0, cuts], np.r_[cuts, len(pdf)]):
                k = tuple(map(int, key[s]))
                if k != tile and pieces:
                    out += kernel(*tile, _joined(pieces))
                    pieces = []
                tile = k
                pieces.append(pdf.iloc[s:e])
            yield pd.DataFrame(out, columns=names)
        if pieces:
            yield pd.DataFrame(kernel(*tile, _joined(pieces)), columns=names)

    return (df.repartition(parallelism(df.sparkSession), "z", "x", "y")
            .sortWithinPartitions("z", "x", "y")
            .mapInPandas(run, schema=schema))


def _joined(pieces: list[pd.DataFrame]) -> pd.DataFrame:
    return (pieces[0] if len(pieces) == 1
            else pd.concat(pieces, ignore_index=True))


def topk_per_tile(
    df: DataFrame,
    cap: int,
    order_col: str = "feature_id",
) -> DataFrame:
    """Keep the first ``cap`` rows per (z, x, y) by ``order_col`` — the
    salted two-phase WINDOW form of ``_top_cap``, kept as the reference the
    aggregation kernel is tested against. Exact and deterministic because
    ``order_col`` is unique per tile.
    """
    salt = (F.col(order_col) % salt_buckets(df.sparkSession)).cast("int")
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
    return _with_checksum(out) if with_ids else out


def _with_checksum(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "checksum", F.sha2(F.concat_ws(",", F.col("feature_ids")), 256))


def _top_cap(df: DataFrame, key: Column, cap: int | Column) -> DataFrame:
    """The salted two-phase top-cap (module docstring): one row per tile,
    (z, x, y, _total, _kept) — the row count and the ``cap`` smallest
    values of ``key``, ascending. ``cap`` may be a column of ``z``."""
    cap = F.lit(cap).cast("int")
    salt = (F.col("feature_id") % salt_buckets(df.sparkSession)).cast("int")
    part = df.groupBy("z", "x", "y", salt.alias("_salt")).agg(
        F.count("*").alias("_n"),
        F.slice(F.sort_array(F.collect_list(key)), 1, cap).alias("_top"),
    )
    return part.groupBy("z", "x", "y").agg(
        F.sum("_n").alias("_total"),
        F.slice(F.sort_array(F.flatten(F.collect_list("_top"))), 1, cap)
         .alias("_kept"),
    )


def capped_tile_summary(
    df: DataFrame, cap: int | Column, with_ids: bool = True,
) -> DataFrame:
    """Aggregation-only equivalent of topk_per_tile + tile_summary:
    feature_count = min(total, cap); feature_ids = the ``cap`` smallest
    feature_ids in the tile (identical to the window path, asserted in
    tests). ``cap`` is an int or a column of ``z`` (``tile_cap``).
    """
    cap = F.lit(cap).cast("long")
    if not with_ids:
        return (
            df.groupBy("z", "x", "y")
            .agg(F.count("*").alias("_total"))
            .select("z", "x", "y",
                    F.least("_total", cap).alias("feature_count"))
        )
    kept = _top_cap(df, F.col("feature_id"), cap)
    return _with_checksum(kept.select(
        "z", "x", "y",
        F.least("_total", cap).alias("feature_count"),
        F.col("_kept").alias("feature_ids"),
    ))


def build_pyramid(
    features: DataFrame,
    settings: Optional[TilingSettings] = None,
    minz: Optional[int] = None,
    maxz: Optional[int | str] = None,
    with_ids: bool = True,
) -> DataFrame:
    """features -> tiles(z, x, y, feature_count[, feature_ids, checksum])
    over the zoom range and projection ``tiling_input`` resolves."""
    features, s = tiling_input(features, settings, minz, maxz)
    lo, hi = s["minimum-zoom"], s["maximum-zoom"]
    df = assign_xy(explode_zooms(features, lo, hi))
    return capped_tile_summary(df, tile_cap(s, hi), with_ids=with_ids)


def _lowest_fitting_zoom(
    features: DataFrame, cap: int, lo: int, hi: int,
    settings: Optional[TilingSettings] = None,
) -> int:
    """The lowest zoom in [lo, hi] whose densest tile holds <= ``cap``
    features after the drop strategy, else ``hi``. One aggregate job over
    every candidate zoom at once — a driver decision over a tiny result,
    not a per-zoom loop; none when ``lo >= hi``, which answers ``lo``.
    Empty input fits at ``lo`` (its densest tile holds 0 features). A
    source without lon/lat columns (WKB) raises NotImplementedError.

    Drop-strategy FEEDBACK (round-2 verdict B17): density is measured
    AFTER the configured merge/thinning strategy, not on raw counts — a
    zoom where clustering or gamma thinning brings the densest tile under
    the cap is NOT "still dropping":

    * ``cluster-distance`` (tippecanoe.yaml:56): features snapping to the
      same pixel-grid cell MERGE into one emitted cluster, so the
      effective density is the DISTINCT snapped-cell count per tile
      (global mercator pixels at zoom z = tile coords at z+8, / distance);
    * ``gamma`` (tippecanoe.yaml:66): per pixel-bucket retention is
      ceil(n^(1/gamma)), so effective density is the sum of retained
      counts per tile.
    """
    if "lon" not in features.columns:
        raise NotImplementedError(
            "a zoom search reads lon/lat: give a WKB source explicit zooms")
    if lo >= hi:
        return lo
    exploded = assign_xy(explode_zooms(features.select("lon", "lat"), lo, hi))
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
    z = lo
    while z < hi and per_z_max.get(z, 0) > cap:
        z += 1
    return z


def _with_density(features: DataFrame, z: int) -> DataFrame:
    """features + their fine cell (fx, fy) ``_DENSITY_ZOOMS`` deeper, its
    feature count ``density``, and their tile (z, x, y) at ``z``. The
    density table is one hash agg (one row per non-empty fine cell)."""
    fine = assign_xy(
        features.withColumn("z", F.lit(z + _DENSITY_ZOOMS))
    ).withColumnRenamed("x", "fx").withColumnRenamed("y", "fy").drop("z")
    dens = fine.groupBy("fx", "fy").agg(F.count("*").alias("density"))
    return assign_xy(fine.join(dens, ["fx", "fy"]).withColumn("z", F.lit(z)))


def _densest_keep_set(df: DataFrame, cap: int) -> DataFrame:
    """Per tile, the ``cap`` kept members of a ``_with_density`` frame in
    (density, feature_id) order; each carries its fine cell. feature_id is
    unique, so (fx, fy) never decides the order."""
    return _top_cap(df, F.struct("density", "feature_id", "fx", "fy"), cap)


def density_capped_summary(features: DataFrame, z: int, cap: int) -> DataFrame:
    """Per-tile cap with tippecanoe's densest-first drop order
    (``coalesce-densest-as-needed`` / ``drop-densest-as-needed`` priority,
    reference tippecanoe.yaml:55-62): when a tile exceeds the cap, features
    in the DENSEST sub-areas are sacrificed first, preserving spatial
    coverage — unlike the id-priority cap, which is order-biased. The keep
    set is ``coalesce_densest_summary``'s; this is its id projection.
    """
    kept = _densest_keep_set(_with_density(features, z), cap)
    return _with_checksum(kept.select(
        "z", "x", "y",
        F.size("_kept").cast("long").alias("feature_count"),
        F.sort_array(F.expr("transform(_kept, s -> s.feature_id)"))
         .alias("feature_ids"),
    ))


def coalesce_densest_summary(features: DataFrame, z: int, cap: int
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

    Plan: hash aggregates + broadcast-able joins only — cell/tile survivor
    tables derive from the keep set (<= cap structs per tile), never from
    a second pass over the feature table, and the final merge is a groupBy
    on survivor id.
    """
    # persist: the feature+density table is consumed twice (keep-set agg,
    # merge join) — without it the density join recomputes per consumer
    df = caching.stage(_with_density(features, z))
    merged = caching.stage(_densest_keep_set(df, cap))
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
