"""Capture .explain("formatted") output for registry queries and bench legs
into plans/<tag>/<name>_<suffix>.txt (judge-auditable plan evidence).

Usage:
    python tools/capture_plans.py <tag> <suffix> [name ...]

With no names: a default set covering every bench leg + touched queries.
Bench legs (non-registry) are captured by rebuilding the same DataFrame the
frozen bench.py builds (same functions, same args).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloudtile_spark import caching  # noqa: E402
from cloudtile_spark.queries import REGISTRY  # noqa: E402
from cloudtile_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "geo_pyramid_z0_8", "pip_bbox_join", "knn_k5", "dedup_exact",
    "dedup_minhash_lsh", "dedup_keep_best", "ann_cosine_topk",
    "ann_lsh_topk", "ann_pq_topk", "tpch_q1", "tpch_q3",
    "events_sessionize", "text_quality", "lang_id", "ts_asof_join",
    "dedup_cc_clusters", "zone_overlap_area_poly", "text_tfidf_topk",
    "geo_radius_pairs_join", "text_repetition_gopher",
    "dedup_chunks_global", "pip_poly_join", "pip_codegen_join",
    "pip_shuffle_join", "pip_shuffle_codegen_join",
    # bench-only legs (same construction as bench.py)
    "pip_poly_2m", "pip_poly_sql_2m", "pip_shuffle_2m",
    "pip_shuffle_sql_2m", "knn_512q", "pyramid_2m_z0_12", "pip_2m",
]


def bench_leg_df(spark, name: str, cores: int):
    """Rebuild the DataFrame a bench leg materializes (bench.py stays
    frozen; this mirrors its construction for plan capture only)."""
    import bench as B  # noqa: E402  (repo root on sys.path)
    from pyspark.sql import functions as F
    from cloudtile_spark.operators import joins as J
    from cloudtile_spark.operators.pyramid import build_pyramid
    from cloudtile_spark.sources.zones import synth_zones

    feats = spark.read.parquet(B.FEATURES_DIR)
    if name == "pyramid_2m_z0_12":
        return build_pyramid(feats, minz=0, maxz=12, with_ids=False)
    if name == "pip_2m":
        return feats.join(
            F.broadcast(B.det_zones(spark)),
            (F.col("lon") >= F.col("xmin")) & (F.col("lon") < F.col("xmax"))
            & (F.col("lat") >= F.col("ymin")) & (F.col("lat") < F.col("ymax")))
    if name in ("pip_poly_2m", "pip_poly_sql_2m"):
        return J.pip_join(feats, synth_zones(100))
    if name in ("pip_shuffle_2m", "pip_shuffle_sql_2m"):
        return J.pip_join_shuffle_codegen(feats, synth_zones(400), res=7)
    if name == "knn_512q":
        pts = spark.read.parquet(B.FEATURES_DIR + "_knn")
        q = pts.filter(F.col("feature_id") % (B.KNN_N // 512) == 0).select(
            F.col("feature_id").alias("query_id"),
            F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
        return J.knn_join_adaptive(pts, q, k=5)
    raise KeyError(name)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plans", cores=cores, shuffle_partitions=cores)
    have_features = os.path.isdir(
        os.environ.get("BENCH_FEATURES_DIR", "/dev/shm/bench_features"))
    for name in names:
        try:
            if name in REGISTRY:
                df = REGISTRY[name].spark_fn(spark, sf_dir)
            elif have_features:
                df = bench_leg_df(spark, name, cores)
            else:
                print(f"skip {name}: no features dir for bench leg")
                continue
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as exc:  # capture everything we can, report rest
            print(f"FAIL {name}: {exc}")
    caching.release_staged()
    spark.stop()


if __name__ == "__main__":
    main()
