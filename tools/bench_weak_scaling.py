"""WEAK-scaling evidence for the no-broadcast PIP join: grow the
candidate volume WITH the cores.

The strong-scaling proxy (bench_scaling.py) is confounded by the measured
per-candidate row-production plateau on this shared-socket sandbox
(BENCH/SHUFFLE_JOIN.md): fixed work at more cores saturates the socket,
which reads as poor scaling even when parallelization itself is fine. In
a weak-scaling run — cores x4 AND input x4 — per-core work is constant,
so shared-socket saturation and true parallelization loss separate:
efficiency = T_small / T_big (ideal 1.0; north-rule bar 0.8).

Levels: local[N] @ 1x pages vs local[4N] @ (4N // N)x pages, with N and 4N
from the host's cores as in bench_scaling.py, each level in its own
subprocess with -XX:ActiveProcessorCount pinning. Appends a table to
BENCH/BASELINE.md.

Usage: python tools/bench_weak_scaling.py [small_pages_n]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else 500_000
_CPUS = len(os.sched_getaffinity(0))
_LO = max(1, _CPUS // 4)
LEVELS = ((_LO, 1), (_CPUS, _CPUS // _LO))  # (cores, input multiple)
INPUT_TMPL = "/dev/shm/weak_input_x{mult}"
N_ZONES = 200


def prepare_inputs() -> None:
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.session import get_spark
    from cloudtile_spark.sources.pages import synth_pages

    spark = get_spark("weak_prep", cores=_CPUS, shuffle_partitions=_CPUS)
    for _, mult in LEVELS:
        out = INPUT_TMPL.format(mult=mult)
        if os.path.isdir(out):
            continue
        feats = extract_features(
            synth_pages(spark, SMALL_PAGES * mult, partitions=64)
            .drop("page_id")).select("feature_id", "lon", "lat")
        feats.repartition(64).write.mode("overwrite").parquet(out)
    spark.stop()


def run_at(cores: int, mult: int) -> dict:
    from pyspark.sql import functions as F  # noqa: F401
    from cloudtile_spark.operators.joins import pip_join_shuffle_codegen
    from cloudtile_spark.session import get_spark
    from cloudtile_spark.sources.zones import synth_zones

    spark = get_spark(
        f"weak_{cores}x{mult}", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={cores} "
                "-Djava.net.preferIPv4Stack=true",
        },
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    feats = spark.read.parquet(INPUT_TMPL.format(mult=mult))
    zones = synth_zones(N_ZONES)

    pip_join_shuffle_codegen(feats.limit(50_000), zones, res=7).count()
    ts2, n_cg = [], 0
    for _ in range(3):
        t0 = time.time()
        n_cg = pip_join_shuffle_codegen(feats, zones, res=7).count()
        ts2.append(time.time() - t0)
    t_codegen = min(ts2)
    spark.stop()
    return {
        "cores": cores, "mult": mult,
        "pages": SMALL_PAGES * mult,
        "codegen_sec": round(t_codegen, 2), "codegen_rows": n_cg,
    }


def main() -> None:
    import subprocess

    prepare_inputs()
    results = []
    for cores, mult in LEVELS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), str(SMALL_PAGES),
             "--single", str(cores), str(mult)],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
    lo, hi = results
    eff_cg = lo["codegen_sec"] / hi["codegen_sec"]
    rows_ratio = hi["codegen_rows"] / max(1, lo["codegen_rows"])
    table = f"""

## Weak scaling on a {_CPUS}-vCPU host: cores x{hi['mult']} AND input x{hi['mult']}

Per-core work constant — separates shared-socket row-production
saturation (which poisons the strong-scaling proxy) from true
parallelization loss. Efficiency = T_small / T_big, ideal 1.0, bar 0.8.
local[{lo['cores']}] @ {lo['pages']:,} pages vs local[{hi['cores']}] @
{hi['pages']:,} pages, {N_ZONES} zones, no-broadcast PIP
(autoBroadcastJoinThreshold=-1).

| leg | local[{lo['cores']}] @1x (sec) | local[{hi['cores']}] @{hi['mult']}x (sec) | weak efficiency |
|---|---|---|---|
| no-broadcast ALL-JVM PIP | {lo['codegen_sec']} | {hi['codegen_sec']} | {eff_cg:.2f} |

Output rows scale with input ({lo['codegen_rows']:,} -> {hi['codegen_rows']:,},
x{rows_ratio:.2f}).

Raw: ```{json.dumps(results)}```
"""
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(table)
    print(json.dumps({
        "weak_efficiency_codegen": round(eff_cg, 3),
        "results": results,
    }))


if __name__ == "__main__":
    if "--single" in sys.argv:
        i = sys.argv.index("--single")
        print(json.dumps(run_at(int(sys.argv[i + 1]), int(sys.argv[i + 2]))))
    else:
        main()
