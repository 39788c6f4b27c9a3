"""Two-parallelism scaling evidence (BASELINE.json north_rule: >= 0.8
throughput scaling efficiency between cluster sizes N and 4N).

Single-host proxy (BASELINE.md): the same deterministic job at local[N]
and local[4N] on identical input, 4N = the host's cores, N = max(1, 4N // 4).
Reports throughput at both levels, efficiency = (T_N / T_4N) / (4N / N),
and verifies the OUTPUT IS IDENTICAL at both levels (order-insensitive
aggregate fingerprint) — the determinism half of the two-cluster-size
equivalence check.

Appends a table to BENCH/BASELINE.md. Usage:
    python tools/bench_scaling.py [pages_n]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloudtile_spark.operators.extract import extract_features  # noqa: E402
from cloudtile_spark.operators.pyramid import build_pyramid  # noqa: E402
from cloudtile_spark.session import get_spark  # noqa: E402
from cloudtile_spark.sources.pages import synth_pages  # noqa: E402

PAGES_N = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
_CPUS = len(os.sched_getaffinity(0))
LEVELS = (max(1, _CPUS // 4), _CPUS)


def fingerprint(df) -> int:
    """Order-insensitive output fingerprint: sum of row hashes."""
    # bit_xor: order-insensitive and overflow-free (ANSI mode rejects a
    # summed xxhash64)
    return df.select(
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("fp")
    ).collect()[0].fp


INPUT_DIR = "/dev/shm/scale_input"
ASOF_FACTS_DIR = "/dev/shm/scale_asof_facts"
ASOF_STATE_DIR = "/dev/shm/scale_asof_state"


def prepare_input() -> None:
    """Materialize the feature table ONCE (untimed setup): scaling is
    measured on the engine reading parquet — the real 100 TB path — not on
    synthetic html generation."""
    spark = get_spark("scale_prep", cores=_CPUS, shuffle_partitions=_CPUS)
    feats = extract_features(
        synth_pages(spark, PAGES_N, partitions=64).drop("page_id")
    ).select("feature_id", "lon", "lat")
    feats.repartition(64).write.mode("overwrite").parquet(INPUT_DIR)
    # as-of leg input (x8 replication of the feature table into a
    # fact/state event stream) — written ONCE so the timed leg measures
    # the operator (shuffle + in-partition sort + carry), not row synthesis
    feats = spark.read.parquet(INPUT_DIR)
    ev = feats.select(
        "feature_id", F.col("lon"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_rep")
    ).select(
        (F.col("feature_id") * 8 + F.col("_rep")).alias("feature_id"),
        F.col("lon")).select(
        "feature_id",
        (F.col("feature_id") % 200_000).alias("user_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000)
             + (F.col("feature_id") * 37) % 86_400_000_000).cast("long")
        ).alias("ts"),
        F.col("lon").alias("value"))
    ev.where(F.col("feature_id") % 5 == 0).select(
        "user_id", "ts", "feature_id").repartition(64) \
        .write.mode("overwrite").parquet(ASOF_FACTS_DIR)
    ev.where(F.col("feature_id") % 5 != 0).select(
        "user_id", "ts", "feature_id", "value").repartition(64) \
        .write.mode("overwrite").parquet(ASOF_STATE_DIR)
    spark.stop()


def run_at(cores: int) -> dict:
    # ActiveProcessorCount pins the WHOLE JVM (worker pool, GC, codegen
    # threads) to N cores — without it, GC free-rides on idle cores in the
    # small-N run and the proxy under-reports scaling efficiency. Requires
    # a fresh JVM per level -> each level runs in its own subprocess (main).
    spark = get_spark(
        f"scale_{cores}", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={cores} "
                "-Djava.net.preferIPv4Stack=true",
        },
    )
    feats = spark.read.parquet(INPUT_DIR)
    n_feats = feats.count()
    # JIT/codegen warmup: first run compiles; then take the best of two
    # timed repeats (this VM shows heavy run-to-run variance)
    build_pyramid(feats.limit(20_000), minz=0, maxz=6,
                  with_ids=False).count()
    times, n_tiles = [], 0
    for _ in range(3):
        t0 = time.time()
        n_tiles = build_pyramid(feats, minz=0, maxz=12,
                                with_ids=False).count()
        times.append(time.time() - t0)
    t_pyramid = min(times)
    fp = fingerprint(
        build_pyramid(feats, minz=0, maxz=12, with_ids=False)
    )
    # PIP join leg (deterministic zones — rand(seed) varies with
    # partition count and would change the input between levels)
    from bench import det_zones
    # 1000 zones (vs the suite's 200): the join leg must be LARGE relative
    # to per-job constants (broadcast build, stage scheduling ~1s), or the
    # 8-core time floors at the constant and the efficiency reading is
    # noise, not scaling (observed: T8 swinging 1.3-3.0s at 200 zones).
    zones = det_zones(spark, n=1000)
    feats.join(
        F.broadcast(zones),
        (F.col("lon") >= F.col("xmin")) & (F.col("lon") < F.col("xmax"))
        & (F.col("lat") >= F.col("ymin")) & (F.col("lat") < F.col("ymax")),
    ).limit(1000).count()  # warm the join path too
    jt, n_join = [], 0
    for _ in range(3):
        t0 = time.time()
        n_join = feats.join(
            F.broadcast(zones),
            (F.col("lon") >= F.col("xmin")) & (F.col("lon") < F.col("xmax"))
            & (F.col("lat") >= F.col("ymin")) & (F.col("lat") < F.col("ymax")),
        ).count()
        jt.append(time.time() - t0)
    t_join = min(jt)
    # no-broadcast PIP leg: the 'both sides 100 TB' regime — zero
    # broadcast AND zero Python workers (unrolled codegen refine)
    from cloudtile_spark.operators.joins import pip_join_shuffle_codegen
    from cloudtile_spark.sources.zones import synth_zones
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    zpdf = synth_zones(200)
    pip_join_shuffle_codegen(feats.limit(50_000), zpdf, res=7).count()
    jt2, n_sh2 = [], 0
    for _ in range(3):
        t0 = time.time()
        n_sh2 = pip_join_shuffle_codegen(feats, zpdf, res=7).count()
        jt2.append(time.time() - t0)
    t_shuffle_cg = min(jt2)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # as-of join leg (round 3): temporal enrichment — union+window, ONE
    # shuffle on the key; input derived deterministically from the feature
    # table (no rand()), ~20% facts enriched from ~80% state rows
    from cloudtile_spark.operators.temporal import asof_join
    facts = spark.read.parquet(ASOF_FACTS_DIR)
    state = spark.read.parquet(ASOF_STATE_DIR)
    def run_asof(f, s):
        # aggregate over the CARRIED column: a bare count() lets Catalyst
        # prune the window (row count is window-independent) and the leg
        # would time the union+filter only
        r = asof_join(f, s, on="ts", by="user_id",
                      right_cols=("value",), tiebreak="feature_id"
                      ).agg(F.count("value_r").alias("n_matched"),
                            F.count(F.lit(1)).alias("n")).collect()[0]
        return r["n"]

    run_asof(facts.limit(20_000), state.limit(80_000))  # warmup
    at, n_asof = [], 0
    for _ in range(3):
        t0 = time.time()
        n_asof = run_asof(facts, state)
        at.append(time.time() - t0)
    t_asof = min(at)
    spark.stop()
    return {
        "cores": cores,
        "pyramid_sec": round(t_pyramid, 2),
        "pyramid_tiles": n_tiles,
        "pyramid_tiles_per_sec": round(n_tiles / t_pyramid, 1),
        "pyramid_features_per_sec": round(n_feats / t_pyramid, 1),
        "join_sec": round(t_join, 2),
        "join_rows": n_join,
        "join_rows_per_sec": round(n_join / t_join, 1),
        "shuffle_cg_sec": round(t_shuffle_cg, 2),
        "shuffle_cg_rows": n_sh2,
        "shuffle_cg_rows_per_sec": round(n_sh2 / t_shuffle_cg, 1),
        "asof_sec": round(t_asof, 2),
        "asof_rows": n_asof,
        "asof_facts_per_sec": round(n_asof / t_asof, 1),
        "fingerprint": fp,
    }


def main() -> None:
    import subprocess

    prepare_input()
    results = []
    for c in LEVELS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             str(PAGES_N), "--single", str(c)],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    lo, hi = results
    ratio = hi["cores"] / lo["cores"]
    eff_pyr = (lo["pyramid_sec"] / hi["pyramid_sec"]) / ratio
    eff_join = (lo["join_sec"] / hi["join_sec"]) / ratio
    eff_cg = (lo["shuffle_cg_sec"] / hi["shuffle_cg_sec"]) / ratio
    eff_asof = (lo["asof_sec"] / hi["asof_sec"]) / ratio
    identical = lo["fingerprint"] == hi["fingerprint"] and \
        lo["pyramid_tiles"] == hi["pyramid_tiles"] and \
        lo["shuffle_cg_rows"] == hi["shuffle_cg_rows"] and \
        lo["asof_rows"] == hi["asof_rows"]
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(f"""

## Strong scaling on a {_CPUS}-vCPU host: local[{lo['cores']}] vs local[{hi['cores']}]

North rule: throughput scaling efficiency >= 0.8 between cluster sizes N
and 4N. Identical deterministic job at both levels ({PAGES_N:,} synthetic
pages, z0-12 pyramid + 1000-zone broadcast PIP join + 200-zone
NO-BROADCAST PIP join + as-of temporal join).

| leg | local[{lo['cores']}] | local[{hi['cores']}] | efficiency |
|---|---|---|---|
| pyramid z0-12 (sec) | {lo['pyramid_sec']} | {hi['pyramid_sec']} | {eff_pyr:.2f} |
| pyramid tiles/sec | {lo['pyramid_tiles_per_sec']:,} | {hi['pyramid_tiles_per_sec']:,} | |
| pyramid features/sec | {lo['pyramid_features_per_sec']:,} | {hi['pyramid_features_per_sec']:,} | |
| PIP join (sec) | {lo['join_sec']} | {hi['join_sec']} | {eff_join:.2f} |
| PIP join rows/sec | {lo['join_rows_per_sec']:,} | {hi['join_rows_per_sec']:,} | |
| no-broadcast PIP (sec) | {lo['shuffle_cg_sec']} | {hi['shuffle_cg_sec']} | {eff_cg:.2f} |
| no-broadcast PIP rows/sec | {lo['shuffle_cg_rows_per_sec']:,} | {hi['shuffle_cg_rows_per_sec']:,} | |
| as-of join (sec) | {lo['asof_sec']} | {hi['asof_sec']} | {eff_asof:.2f} |
| as-of facts/sec | {lo['asof_facts_per_sec']:,} | {hi['asof_facts_per_sec']:,} | |

Output equivalence across parallelism levels (the determinism half of the
two-cluster-size check): tiles={lo['pyramid_tiles']:,} at both levels,
order-insensitive fingerprint match = **{identical}**.

Raw: ```{json.dumps(results)}```
""")
    print(json.dumps({
        "efficiency_pyramid": round(eff_pyr, 3),
        "efficiency_join": round(eff_join, 3),
        "efficiency_shuffle_cg": round(eff_cg, 3),
        "efficiency_asof": round(eff_asof, 3),
        "identical_output": identical,
        "results": results,
    }))


if __name__ == "__main__":
    if "--single" in sys.argv:
        print(json.dumps(run_at(int(sys.argv[sys.argv.index("--single") + 1]))))
    else:
        main()
