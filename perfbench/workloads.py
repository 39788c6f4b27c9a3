"""The benchmark's three workloads: inputs made from the seed, one job,
and the output check of that job.

Each workload calls only the engine's public operator functions. The
seed maps to a page-id offset fed to the public ``sources.pages``
coordinate builders and to a window over ``sources.zones.synth_zones``;
neither changes the hotspot share, the zone count or the vertex count.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudtile_spark import geom
from cloudtile_spark.operators.extract import extract_features
from cloudtile_spark.sources.pages import LANGS, city_sql, lat_sql, lon_sql
from cloudtile_spark.sources.zones import synth_zones, zone_predicate_sql

from tracing import TimedIterator, Tracer

# page ids stay below 2^31, the range the coordinate builders accept
OFFSET_STRIDE = 1_000_000
OFFSET_SLOTS = 1000
# the kNN query that no cell ring certifies (see _Join.queries)
POLAR_QUERY_ID = -1
# zone windows start on a multiple of 5 so every window cycles over the
# five hotspots in the same order
ZONE_WINDOW_SLOTS = 50


def page_offset(seed: int) -> int:
    return (seed % OFFSET_SLOTS) * OFFSET_STRIDE


def seeded_pages(spark: SparkSession, offset: int, n: int,
                 partitions: int) -> DataFrame:
    """The pages table for page ids [offset, offset + n), built from the
    public coordinate builders (same row shape as ``synth_pages``)."""
    i = "page_id"
    city = F.expr(city_sql(i))
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                        (F.col(i) % 5 + 1).cast("int"))
    body = F.concat(F.lit("Listing "), F.col(i).cast("string"),
                    F.lit(" near "), city, F.lit(" in language "), lang,
                    F.lit("."))
    html = F.concat(
        F.lit('<html><head><meta name="geo.position" content="'),
        F.expr(lat_sql(i)).cast("string"), F.lit(";"),
        F.expr(lon_sql(i)).cast("string"),
        F.lit('"></head><body><p>'), body, F.lit("</p></body></html>"))
    return (
        spark.range(offset, offset + n, 1, partitions)
        .withColumnRenamed("id", i)
        .select(
            F.concat(F.lit("https://example.org/"), city, F.lit("/"),
                     F.col(i).cast("string")).alias("url"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(secs=F.col(i) * 37)).alias("warc_ts"),
            F.encode(html, "utf-8").alias("html"),
            body.alias("text"),
            lang.alias("lang"),
        )
    )


def seeded_zones(seed: int, n: int) -> pd.DataFrame:
    lo = (seed % ZONE_WINDOW_SLOTS) * 5
    return synth_zones(lo + n).iloc[lo:].reset_index(drop=True)


class Workload:
    """One workload. ``generate`` writes the inputs (timed in set-up),
    ``prepare_checks`` builds the reference outputs (not timed), ``job``
    runs one timed job and returns its outputs, ``check`` returns the
    list of output-check failures for one job."""

    name = ""
    spark_conf: dict[str, str] = {}
    # untimed jobs run in set-up, before the measured ones: the first job
    # in a fresh JVM costs 2-3x a warm one. More warm-up would help the
    # joins (their driver-side planning code is still being JIT-compiled
    # during the second job), but each one adds ~10 s to every run
    warmup_jobs = 1

    def __init__(self, spark: SparkSession, work: Path, seed: int,
                 cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.offset = page_offset(seed)

    input_rows = 0

    def generate(self) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        raise NotImplementedError

    def job(self, i: int, tr: Tracer) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.work / f"job{i}", ignore_errors=True)


# ---------------------------------------------------------------------------
# tileset: the CLI's vector2features + features2tiles --pmtiles
# ---------------------------------------------------------------------------

class Tileset(Workload):
    name = "tileset"
    PAGES = 600
    MINZ, MAXZ = 0, 6

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from cloudtile_spark.settings import TilingSettings

        self.settings = TilingSettings()
        self.settings["minimum-zoom"] = self.MINZ
        self.settings["maximum-zoom"] = self.MAXZ
        self.pages_dir = self.work / "pages"
        self.input_rows = self.PAGES

    def generate(self) -> None:
        seeded_pages(self.spark, self.offset, self.PAGES, self.cores) \
            .write.mode("overwrite").parquet(str(self.pages_dir))

    def prepare_checks(self) -> None:
        pass  # the reference pyramid is built from each job's features

    def job(self, i: int, tr: Tracer) -> dict:
        from cloudtile_spark.operators.mvt import encode_point_tiles
        from cloudtile_spark.operators.pmtiles import (
            sorted_tile_stream, tilestats, write_pmtiles_stream)

        spark, s = self.spark, self.settings
        d = self.work / f"job{i}"
        feats_dir, tiles_dir = str(d / "features"), str(d / "tiles")
        pm = str(d / "archive.pmtiles")
        d.mkdir(parents=True, exist_ok=True)
        with tr.phase("extract", i) as ph:
            with ph.build():
                feats = extract_features(spark.read.parquet(str(self.pages_dir)))
            with ph.action():
                feats.write.mode("overwrite").parquet(feats_dir)
        with tr.phase("mvt", i) as ph:
            with ph.build():
                feats = spark.read.parquet(feats_dir).select(
                    "feature_id", "lon", "lat", "props")
                tiles_df = encode_point_tiles(feats, self.MINZ, self.MAXZ,
                                              settings=s)
            with ph.action():
                tiles_df.write.mode("overwrite").partitionBy("z") \
                    .parquet(tiles_dir)
        with tr.phase("archive", i) as ph:
            with ph.build():
                src = spark.read.parquet(tiles_dir).select("z", "x", "y", "mvt")
                meta = {"name": "pages", "tilestats": tilestats(feats, s)}
                stream = TimedIterator(sorted_tile_stream(src))
            with ph.action() as act:
                stats = write_pmtiles_stream(pm, stream, self.MINZ, self.MAXZ,
                                             metadata=meta)
            wall = act["end"] - act["start"]
            ph.counters.update(stats, stream_wait_s=stream.wait_s,
                               write_self_s=wall - stream.wait_s)
        return {"job": i, "feats_dir": feats_dir, "tiles_dir": tiles_dir,
                "pmtiles": pm, "archive": stats}

    def check(self, out: dict) -> list[str]:
        from cloudtile_spark.operators.pyramid import build_pyramid

        spark = self.spark
        key = ["z", "x", "y"]
        got = (spark.read.parquet(out["tiles_dir"])
               .select(*key, "feature_count",
                       F.length("mvt").alias("nbytes"))
               .toPandas().sort_values(key, ignore_index=True))
        feats = spark.read.parquet(out["feats_dir"])
        n_feat = feats.count()
        ref = (build_pyramid(feats.select("feature_id", "lon", "lat"),
                             minz=self.MINZ, maxz=self.MAXZ, with_ids=False)
               .toPandas().sort_values(key, ignore_index=True))
        errs = []
        if not (len(got) == len(ref)
                and (got[key].to_numpy() == ref[key].to_numpy()).all()
                and (got.feature_count.to_numpy()
                     == ref.feature_count.to_numpy()).all()):
            errs.append("tileset: tile feature counts differ from build_pyramid")
        if out["archive"]["n_addressed"] != len(got):
            errs.append(f"tileset: archive addresses "
                        f"{out['archive']['n_addressed']} tiles, "
                        f"table has {len(got)}")
        if n_feat != self.PAGES:
            errs.append(f"tileset: {n_feat} features from {self.PAGES} pages")
        archive_bytes = Path(out["pmtiles"]).stat().st_size
        out["counters"] = {
            "extract.yield": n_feat / self.PAGES,
            "mvt.tiles": len(got),
            "mvt.bytes_per_tile": float(got.nbytes.sum()) / max(len(got), 1),
            "archive.bytes_per_feature": archive_bytes / max(n_feat, 1),
        }
        return errs


# ---------------------------------------------------------------------------
# join workloads: one exact PIP plus one kNN query per job
# ---------------------------------------------------------------------------

class _Join(Workload):
    POINTS = 0
    KNN_POINTS = 0
    ZONES = 0
    QUERIES = 512
    K = 5
    # queries whose results are compared with brute force on every job
    CHECK_QUERIES = 16

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.points_dir = self.work / "points"
        self.knn_dir = self.work / "knn_points"
        self.zones = seeded_zones(self.seed, self.ZONES)
        self.input_rows = self.POINTS + self.KNN_POINTS

    def pip(self, points: DataFrame, zones: pd.DataFrame) -> DataFrame:
        raise NotImplementedError

    def knn(self, points: DataFrame, queries: DataFrame) -> DataFrame:
        raise NotImplementedError

    def generate(self) -> None:
        write_points(self.points_dir, self.offset, self.POINTS, self.cores)
        write_points(self.knn_dir, self.offset, self.KNN_POINTS, self.cores)

    def queries(self, points: DataFrame) -> DataFrame:
        """Every (KNN_POINTS // QUERIES)-th point, plus one query near the
        south pole. No point lies within 25 degrees of it, so it never
        certifies from a cell ring and every job runs the brute-force
        fallback. Without it, whether any corpus query fails to certify
        depends on the seed, and the fallback's extra stages would make
        the job time bimodal across seeds."""
        step = self.KNN_POINTS // self.QUERIES
        rel = F.col("feature_id") - self.offset
        corpus = points.filter(
            (rel % step == 0) & (rel < step * self.QUERIES)
        ).select(F.col("feature_id").alias("query_id"),
                 F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
        return corpus.unionByName(self.spark.createDataFrame(
            [(POLAR_QUERY_ID, 0.0, -85.0)],
            "query_id long, qlon double, qlat double"))

    def prepare_checks(self) -> None:
        self.pip_ref = _pip_oracle(self.points_dir, self.zones)
        # every (QUERIES // CHECK_QUERIES)-th corpus query, plus the polar one
        qstep = (self.KNN_POINTS // self.QUERIES) * (
            self.QUERIES // self.CHECK_QUERIES)
        self.knn_ref = _knn_brute(self.knn_dir, self.offset, qstep,
                                  self.CHECK_QUERIES, self.K)
        self.check_ids = np.unique(self.knn_ref[:, 0])

    def job(self, i: int, tr: Tracer) -> dict:
        spark = self.spark
        with tr.phase("pip", i) as ph:
            with ph.build():
                joined = self.pip(spark.read.parquet(str(self.points_dir)),
                                  self.zones)
            with ph.action():
                pairs = tuple(joined.selectExpr(*PAIR_FINGERPRINT).first())
        with tr.phase("knn", i) as ph:
            with ph.build():
                pts = spark.read.parquet(str(self.knn_dir))
                found = self.knn(pts, self.queries(pts))
            with ph.action():
                knn = found.select("query_id", "feature_id", "rank").toPandas()
        return {"job": i, "pairs": pairs, "knn": knn}

    def check(self, out: dict) -> list[str]:
        errs = []
        if out["pairs"] != self.pip_ref:
            errs.append(f"{self.name}: PIP fingerprint {out['pairs']} "
                        f"!= oracle {self.pip_ref}")
        knn = out["knn"]
        n_q = knn.query_id.nunique()
        if len(knn) != n_q * self.K or n_q != self.QUERIES + 1:
            errs.append(f"{self.name}: kNN returned {len(knn)} rows for "
                        f"{n_q} queries, expected {self.QUERIES + 1} x "
                        f"{self.K}")
        sub = (knn[knn.query_id.isin(self.check_ids)]
               .sort_values(["query_id", "rank"], ignore_index=True))
        if not np.array_equal(sub.to_numpy(np.int64), self.knn_ref):
            errs.append(f"{self.name}: kNN differs from brute force on the "
                        f"{len(self.check_ids)} checked queries")
        out["counters"] = {"pip.rows_out": out["pairs"][0],
                           "knn.rows_out": len(knn)}
        return errs

    def cleanup(self, i: int) -> None:
        pass  # join jobs write nothing


class JoinBroadcast(_Join):
    name = "join_broadcast"
    POINTS = 100_000
    KNN_POINTS = 20_000
    ZONES = 100

    def pip(self, points, zones):
        from cloudtile_spark.operators.joins import pip_join
        return pip_join(points, zones)

    def knn(self, points, queries):
        from cloudtile_spark.operators.joins import knn_join_adaptive
        return knn_join_adaptive(points, queries, k=self.K)


class JoinShuffle(_Join):
    name = "join_shuffle"
    POINTS = 100_000
    KNN_POINTS = 20_000
    ZONES = 400
    # the salted brute-force pass for uncertified queries grows with the
    # query count; 128 queries keep one job near the other workloads'
    QUERIES = 128
    spark_conf = {"spark.sql.autoBroadcastJoinThreshold": "-1"}

    def pip(self, points, zones):
        from cloudtile_spark.operators.joins import pip_join_shuffle_codegen
        return pip_join_shuffle_codegen(points, zones, res=7)

    def knn(self, points, queries):
        from cloudtile_spark.operators.joins import knn_join_shuffle
        return knn_join_shuffle(points, queries, k=self.K)


WORKLOADS = {w.name: w for w in (Tileset, JoinBroadcast, JoinShuffle)}


def write_points(path: Path, offset: int, n: int, parts: int) -> None:
    """Pre-extracted point features (feature_id, lon, lat) for page ids
    [offset, offset + n), written as ``parts`` parquet files by DuckDB
    from the same public coordinate builders the pages table uses."""
    import duckdb

    path.mkdir(parents=True, exist_ok=True)
    step = -(-n // parts)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for k, lo in enumerate(range(offset, offset + n, step)):
            hi = min(offset + n, lo + step)
            con.execute(
                f"COPY (SELECT i AS feature_id, {lon_sql('i')} AS lon, "
                f"{lat_sql('i')} AS lat FROM range({lo}, {hi}) t(i)) "
                f"TO '{path}/part-{k:05d}.parquet' (FORMAT parquet)")
    finally:
        con.close()


# ---------------------------------------------------------------------------
# reference outputs
# ---------------------------------------------------------------------------

# Order-insensitive fingerprint of a (feature_id, zone_id) multiset: the
# row count and two sums of per-pair integer hashes. Plain integer SQL that
# Spark and DuckDB evaluate alike (all intermediates stay below 2^62).
_M = 2147483647
PAIR_FINGERPRINT = (
    "count(*) AS n",
    f"sum((((feature_id % {_M}) * 1000003 + zone_id) % {_M}) * 16807 % {_M})"
    " AS h1",
    f"sum((((feature_id % {_M}) * 48271 + zone_id * 7919) % {_M})"
    f" * 69621 % {_M}) AS h2",
)


def _pip_oracle(points_dir: Path, zones: pd.DataFrame) -> tuple:
    """Fingerprint of the (feature_id, zone_id) pairs from the convex half-plane predicates of
    ``zone_predicate_sql``, evaluated by DuckDB over the stored points."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute("CREATE TABLE p AS SELECT feature_id, lon, lat FROM "
                    f"read_parquet('{points_dir}/*.parquet')")
        parts = []
        for _, z in zones.iterrows():
            ring = np.asarray(z.ring, np.float64)
            (xmin, ymin), (xmax, ymax) = ring.min(0), ring.max(0)
            parts.append(
                f"SELECT feature_id, {int(z.zone_id)} AS zone_id FROM p "
                f"WHERE lon BETWEEN {xmin!r} AND {xmax!r} "
                f"AND lat BETWEEN {ymin!r} AND {ymax!r} "
                f"AND {zone_predicate_sql(ring, 'lon', 'lat')}")
        row = con.execute(f"SELECT {', '.join(PAIR_FINGERPRINT)} FROM ("
                          + " UNION ALL ".join(parts) + ")").fetchone()
    finally:
        con.close()
    return tuple(int(v) for v in row)


def _knn_brute(points_dir: Path, offset: int, qstep: int, n_queries: int,
               k: int) -> np.ndarray:
    """Brute-force k nearest (query_id, feature_id, rank) rows, ordered by
    query and rank, evaluated by DuckDB over the stored points with the
    engine's ``geom.haversine_sql`` distance. The queries are the points
    ``offset + j * qstep`` for j < ``n_queries``, plus the polar query."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute("CREATE TABLE p AS SELECT feature_id, lon, lat FROM "
                    f"read_parquet('{points_dir}/*.parquet')")
        rows = con.execute(f"""
            WITH q AS (
                SELECT feature_id AS query_id, lon AS qlon, lat AS qlat FROM p
                WHERE (feature_id - {offset}) % {qstep} = 0
                  AND feature_id - {offset} < {qstep * n_queries}
                UNION ALL SELECT {POLAR_QUERY_ID}, 0.0, -85.0),
            d AS (
                SELECT query_id, feature_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY
                    {geom.haversine_sql('qlon', 'qlat', 'lon', 'lat')},
                    feature_id) AS rank
                FROM q, p WHERE feature_id <> query_id)
            SELECT query_id, feature_id, rank FROM d WHERE rank <= {k}
            ORDER BY query_id, rank""").fetchnumpy()
    finally:
        con.close()
    return np.column_stack([rows[c].astype(np.int64)
                            for c in ("query_id", "feature_id", "rank")])
