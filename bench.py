"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "throughput": {...}}

Headline mix (BASELINE.json metric = tiles/sec pyramid + join rows/sec):
  * pyramid_2m_z0_12 — 2,000,000 synthetic pages -> extract -> z0-12 pyramid
    (the tippecanoe-replacement path, FIXTURES.md bench size)
  * pip_2m           — 2M points x 200 bbox zones broadcast join
  * knn_512q         — 512 queries x 1M points, certified-exact adaptive
    cell-ring kNN (the scale path; brute force stays a correctness oracle
    in tests)
  * plus the oracle-gated registry queries at the given sf_dir
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from cloudtile_spark.operators.extract import extract_features  # noqa: E402
from cloudtile_spark.operators.pyramid import build_pyramid  # noqa: E402
from cloudtile_spark.queries import REGISTRY  # noqa: E402
from cloudtile_spark.session import get_spark  # noqa: E402
from cloudtile_spark.sources.pages import synth_pages  # noqa: E402

PAGES_N = int(os.environ.get("BENCH_PAGES", "2000000"))
KNN_N = int(os.environ.get("BENCH_KNN_N", "1000000"))
FEATURES_DIR = os.environ.get("BENCH_FEATURES_DIR", "/dev/shm/bench_features")


# the legs that read the full feature table at FEATURES_DIR; knn_512q
# reads only its FEATURES_DIR + "_knn" point subset
FULL_TABLE_LEGS = {"pyramid_2m_z0_12", "pip_2m", "pip_poly_2m",
                   "pip_poly_sql_2m", "pip_shuffle_2m", "pip_shuffle_sql_2m"}


def prepare_features(spark, cores, full: bool = True) -> None:
    """Untimed setup: materialize the extracted feature table once, like the
    real deployment's parquet corpus. The timed legs then measure the
    ENGINE (read -> compute), not synthetic html generation. The kNN point
    subset is materialized separately so that leg times the JOIN, not a
    full-corpus scan to carve out its input. With ``full`` False (no
    selected leg reads the full table) only the subset is written,
    extracted from the first KNN_N pages alone: pages are
    page-id-deterministic and feature_id is the page id, so both routes
    write the same rows."""
    def extracted(n):
        return extract_features(
            synth_pages(spark, n, partitions=cores * 2).drop("page_id")
        ).select("feature_id", "lon", "lat")

    if full:
        extracted(PAGES_N).write.mode("overwrite").parquet(FEATURES_DIR)
    subset = (spark.read.parquet(FEATURES_DIR)
              .filter(F.col("feature_id") < KNN_N) if full
              else extracted(min(KNN_N, PAGES_N)))
    subset.repartition(cores) \
        .write.mode("overwrite").parquet(FEATURES_DIR + "_knn")


REGISTRY_QUERIES = [
    "geo_pyramid_z0_8", "pip_bbox_join", "knn_k5", "dedup_exact",
    "dedup_minhash_lsh", "dedup_keep_best",
    "ann_cosine_topk", "ann_lsh_topk", "ann_pq_topk",
    "tpch_q1", "tpch_q3",
    "events_sessionize", "text_quality", "lang_id",
    "ts_asof_join", "dedup_cc_clusters", "zone_overlap_area_poly",
    "text_tfidf_topk", "geo_radius_pairs_join",
    "text_repetition_gopher", "dedup_chunks_global",
]


REPEATS = int(os.environ.get("BENCH_REPEATS", "2"))

# Heavy staged/multi-stage legs pay a one-time whole-stage-codegen +
# Arrow-UDF warm-up cost on their FIRST invocation (~2x a warm run —
# measured in BENCH/BASELINE.md's variance table); min-of-2 cannot hide
# it. The bar is engine speed, not JIT latency, so these legs get one
# untimed warm-up invocation before the timed min-of-REPEATS loop
# (disable with BENCH_WARMUP=0 to measure cold-start instead).
WARMUP = int(os.environ.get("BENCH_WARMUP", "1"))
WARM_LEGS = {
    "dedup_minhash_lsh", "dedup_cc_clusters", "ann_pq_topk",
    "ann_lsh_topk", "zone_overlap_area_poly", "knn_k5",
}


def timed(fn, warmup: bool = False):
    """min-of-REPEATS wall clock: this VM shows ~2x run-to-run variance
    (shared host), so a single sample grades noise, not the engine.
    warmup=True runs one untimed invocation first (cold-codegen legs)."""
    best, n = None, None
    if warmup and WARMUP:
        fn()
    for _ in range(max(1, REPEATS)):
        t0 = time.time()
        n = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best, n


def bench_pyramid(spark, cores):
    feats = spark.read.parquet(FEATURES_DIR)
    tiles_df = build_pyramid(feats, minz=0, maxz=12, with_ids=False)
    return tiles_df.count()



def det_zones(spark, n=200):
    """Deterministic zone bboxes: pure integer-arithmetic uniforms over id —
    F.rand(seed) is NOT stable across partition counts, which would change
    the join input between parallelism levels."""
    from cloudtile_spark.sources.pages import _u
    return spark.range(n).selectExpr(
        "id AS zone_id",
        f"-170.0 + {_u('id', 6)} * 340.0 AS cx",
        f"-50.0 + {_u('id', 7)} * 100.0 AS cy",
    ).selectExpr(
        "zone_id", "cx - 12.0 AS xmin", "cx + 12.0 AS xmax",
        "cy - 8.0 AS ymin", "cy + 8.0 AS ymax",
    )


def bench_pip(spark, cores):
    feats = spark.read.parquet(FEATURES_DIR)
    zones = det_zones(spark)
    joined = feats.join(
        F.broadcast(zones),
        (F.col("lon") >= F.col("xmin")) & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin")) & (F.col("lat") < F.col("ymax")),
    )
    return joined.count()


def bench_pip_poly(spark, cores):
    """Exact polygon PIP (broadcast bbox prefilter + unrolled codegen
    ray-cast refine) over the full extracted corpus x 100 hotspot
    polygons — the exact refine, not just the bbox join."""
    from cloudtile_spark.operators.joins import pip_join
    from cloudtile_spark.sources.zones import synth_zones

    feats = spark.read.parquet(FEATURES_DIR)
    return pip_join(feats, synth_zones(100)).count()


def bench_pip_poly_sql(spark, cores):
    """The same code as bench_pip_poly (pip_join routes 8-vertex zones to
    the all-JVM codegen refine); the leg key stays for the frozen JSON
    contract."""
    from cloudtile_spark.operators.joins import pip_join
    from cloudtile_spark.sources.zones import synth_zones

    feats = spark.read.parquet(FEATURES_DIR)
    return pip_join(feats, synth_zones(100)).count()


def bench_pip_shuffle_sql(spark, cores):
    """No-broadcast AND no-Python exact PIP (pip_join_shuffle_codegen):
    one shuffle of the point side keyed on the cell id + shuffle-hash
    join + unrolled codegen refine — the 'both sides 100 TB' regime with
    zero latency-sensitive operators."""
    from cloudtile_spark.operators.joins import pip_join_shuffle_codegen
    from cloudtile_spark.sources.zones import synth_zones

    n_zones = int(os.environ.get("BENCH_ZONES", "400"))
    feats = spark.read.parquet(FEATURES_DIR)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return pip_join_shuffle_codegen(feats, synth_zones(n_zones),
                                        res=7).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def bench_knn(spark, cores):
    from cloudtile_spark import caching
    from cloudtile_spark.operators.joins import knn_join_adaptive

    # cache: the kNN plan scans the point side three times (multi-res
    # counts, candidates join, fallback); at bench scale it fits in memory.
    # Staged (not bare .cache()) so the finally-release frees it — round-2's
    # leaked copy skewed every leg that ran after this one.
    feats = caching.stage(spark.read.parquet(FEATURES_DIR + "_knn"))
    feats.count()
    q = feats.filter(F.col("feature_id") % (KNN_N // 512) == 0).select(
        F.col("feature_id").alias("query_id"),
        F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
    )
    try:
        return knn_join_adaptive(feats, q, k=5).count()
    finally:
        caching.release_staged()


def bench_pip_shuffle(spark, cores, n_zones=None):
    """No-broadcast PIP (pip_join_shuffle_codegen) over the full corpus x
    BENCH_ZONES polygons at the default broadcast threshold; the operator
    plans no broadcast at any threshold, so this runs the same code as
    bench_pip_shuffle_sql. Zone count is env-tunable so the zone-scaling
    experiment (BENCH/SHUFFLE_JOIN.md) runs the same leg at 10x zones."""
    from cloudtile_spark.operators.joins import pip_join_shuffle_codegen
    from cloudtile_spark.sources.zones import synth_zones

    n_zones = n_zones or int(os.environ.get("BENCH_ZONES", "400"))
    feats = spark.read.parquet(FEATURES_DIR)
    return pip_join_shuffle_codegen(feats, synth_zones(n_zones),
                                    res=7).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # BENCH_ONLY=leg1,leg2 restricts to a subset (variance re-measurement
    # without paying the full suite); empty/unset = everything.
    only = {s for s in os.environ.get("BENCH_ONLY", "").split(",") if s}

    def want(name: str) -> bool:
        return not only or name in only

    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)

    times: dict[str, float] = {}
    throughput: dict[str, float] = {}

    t0 = time.time()
    # untimed setup; never repeated
    prepare_features(spark, cores, full=any(map(want, FULL_TABLE_LEGS)))
    t_prep = time.time() - t0
    if want("pyramid_2m_z0_12"):
        t, n_tiles = timed(lambda: bench_pyramid(spark, cores))
        times["pyramid_2m_z0_12"] = round(t, 3)
        throughput["pyramid_tiles_per_sec"] = round(n_tiles / t, 1)
        throughput["pyramid_features_per_sec"] = round(PAGES_N * 13 / t, 1)

    if want("pip_2m"):
        t, n_rows = timed(lambda: bench_pip(spark, cores))
        times["pip_2m"] = round(t, 3)
        throughput["pip_join_rows_per_sec"] = round(n_rows / t, 1)

    if want("pip_poly_2m"):
        t, n_rows = timed(lambda: bench_pip_poly(spark, cores), warmup=True)
        times["pip_poly_2m"] = round(t, 3)
        throughput["exact_pip_rows_per_sec"] = round(n_rows / t, 1)

    if want("pip_poly_sql_2m"):
        t, n_rows = timed(lambda: bench_pip_poly_sql(spark, cores))
        times["pip_poly_sql_2m"] = round(t, 3)
        throughput["codegen_pip_rows_per_sec"] = round(n_rows / t, 1)

    if want("pip_shuffle_2m"):
        # first no-broadcast PIP leg: one untimed run compiles its plan
        # (WARM_LEGS rationale above)
        t, n_rows = timed(lambda: bench_pip_shuffle(spark, cores),
                          warmup=True)
        times["pip_shuffle_2m"] = round(t, 3)
        throughput["shuffle_pip_rows_per_sec"] = round(n_rows / t, 1)

    if want("pip_shuffle_sql_2m"):
        t, n_rows = timed(lambda: bench_pip_shuffle_sql(spark, cores))
        times["pip_shuffle_sql_2m"] = round(t, 3)
        throughput["shuffle_sql_pip_rows_per_sec"] = round(n_rows / t, 1)

    if want("knn_512q"):
        t, n_rows = timed(lambda: bench_knn(spark, cores), warmup=True)
        times["knn_512q"] = round(t, 3)
        throughput["knn_candidates_per_sec"] = round(KNN_N * 512 / t, 1)

    # generation+extraction leg (synthetic html build + geo extract;
    # extraction alone on stored parquet runs ~1M pages/s)
    if want("gen_extract_1m_pages"):
        t, n_rows = timed(lambda: extract_features(
            synth_pages(spark, PAGES_N // 2, partitions=cores * 2)
            .drop("page_id")).count())
        times["gen_extract_1m_pages"] = round(t, 3)
        throughput["gen_extract_pages_per_sec"] = round(
            (PAGES_N // 2) / t, 1)

    from cloudtile_spark import caching

    def _materialize(df, name):
        # count() lets Catalyst prune row-count-preserving work (the as-of
        # window) — aggregate over a computed column to time the operator
        if name == "ts_asof_join":
            return df.agg(F.count("click_id"), F.count(F.lit(1))
                          ).collect()[0][1]
        return df.count()

    for name in REGISTRY_QUERIES:
        if not want(name):
            continue
        q = REGISTRY[name]
        t, _ = timed(lambda: _materialize(q.spark_fn(spark, sf_dir), name),
                     warmup=name in WARM_LEGS)
        times[name] = round(t, 3)
    # the last query's staged caches (the registry entry releases on entry)
    caching.release_staged()

    spark.stop()
    print(json.dumps({
        "metric": "headline suite wall-clock (pyramid z0-12 tiles/sec + "
                  "spatial-join rows/sec + registry queries)",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "throughput": throughput,
        "cores": cores,
        "pages_n": PAGES_N,
        "setup_extract_sec": round(t_prep, 3),
    }))


if __name__ == "__main__":
    main()
