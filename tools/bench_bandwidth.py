"""Quantify the no-broadcast PIP scaling ceiling (VERDICT r4 perf-weak #2
/ Next #6): upgrade the "memory-bandwidth ceiling" ARGUMENT to a
MEASUREMENT, end-to-end.

Three experiments, one report (BENCH/BANDWIDTH.md):

1. STREAM-like triad (a = b + s*c over float64 arrays >> LLC) at 1, 2, 8
   and 32 parallel PROCESSES — the box's aggregate memory bandwidth
   curve. If aggregate GB/s stops growing past ~8 processes, the bus
   saturates exactly where the PIP leg's scaling stalls.

2. The no-broadcast PIP leg itself at local[8]: actual shuffle
   read+write bytes from the Spark stage metrics (UI REST API), i.e.
   measured bytes-per-output-row, and the implied memory traffic rate
   = (shuffle write + read + input scan) / elapsed — compared against
   the STREAM ceiling from (1).

3. Option (a) of the verdict: the SAME leg with 64-vertex polygons
   (8x the ray-cast compute per candidate row, identical shuffle bytes
   per row). If 2->8 efficiency recovers to >= 0.8 when compute-per-byte
   rises, bandwidth — not plan serialism — is isolated as the limiter.

Usage:
    python tools/bench_bandwidth.py            # all three, writes report
    python tools/bench_bandwidth.py --stream   # STREAM sweep only
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PAGES_N = int(os.environ.get("BW_PAGES", "4000000"))
INPUT_DIR = "/dev/shm/bw_input"
ARR_ELEMS = 32 * 1024 * 1024  # 256 MB per array, 3 arrays per process


def _triad_worker(seconds: float, out_q) -> None:
    import numpy as np

    a = np.zeros(ARR_ELEMS)
    b = np.random.rand(ARR_ELEMS)
    c = np.random.rand(ARR_ELEMS)
    # warm
    np.add(b, 1.5 * c, out=a)
    iters, t0 = 0, time.time()
    while time.time() - t0 < seconds:
        np.multiply(c, 1.5, out=a)
        np.add(a, b, out=a)
        iters += 1
    dt = time.time() - t0
    # triad moves 3 arrays (read b, read c, write a) per iteration; the
    # two-op numpy form adds one extra read+write of a -> 5 arrays/iter.
    bytes_moved = iters * 5 * ARR_ELEMS * 8
    out_q.put(bytes_moved / dt)


def stream_sweep(levels=(1, 2, 8, 32), seconds: float = 3.0) -> dict:
    out = {}
    for p in levels:
        q: mp.Queue = mp.Queue()
        procs = [mp.Process(target=_triad_worker, args=(seconds, q))
                 for _ in range(p)]
        for pr in procs:
            pr.start()
        rates = [q.get() for _ in procs]
        for pr in procs:
            pr.join()
        agg = sum(rates) / 1e9
        out[p] = round(agg, 2)
        print(f"STREAM triad x{p}: {agg:.1f} GB/s aggregate "
              f"({agg / p:.1f} GB/s per process)")
    return out


def _ui_shuffle_totals(port: int) -> dict:
    base = f"http://localhost:{port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{base}/{app_id}/stages?status=complete", timeout=10))
    return {
        "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
    }


def prepare_input() -> None:
    from cloudtile_spark.operators.extract import extract_features
    from cloudtile_spark.session import get_spark
    from cloudtile_spark.sources.pages import synth_pages

    spark = get_spark("bw_prep", cores=32, shuffle_partitions=32)
    extract_features(
        synth_pages(spark, PAGES_N, partitions=64).drop("page_id")
    ).select("feature_id", "lon", "lat") \
        .repartition(64).write.mode("overwrite").parquet(INPUT_DIR)
    spark.stop()


def run_pip(cores: int, verts: int, measure_bytes: bool = False) -> dict:
    """One subprocess-level run of the no-broadcast PIP leg."""
    from cloudtile_spark.operators.joins import pip_join_shuffle_codegen
    from cloudtile_spark.session import get_spark
    from cloudtile_spark.sources.zones import synth_zones

    port = 4049
    extra = {
        "spark.driver.extraJavaOptions":
            f"-XX:ActiveProcessorCount={cores} "
            "-Djava.net.preferIPv4Stack=true",
    }
    if measure_bytes:
        extra.update({"spark.ui.enabled": "true",
                      "spark.ui.port": str(port)})
    spark = get_spark(f"bw_{cores}", cores=cores, shuffle_partitions=cores,
                      extra_conf=extra)
    feats = spark.read.parquet(INPUT_DIR)
    zones = synth_zones(200, verts=verts)
    pip_join_shuffle_codegen(feats.limit(50_000), zones,
                             res=7).count()  # warm codegen
    times, n = [], 0
    before = _ui_shuffle_totals(port) if measure_bytes else None
    for _ in range(3):
        t0 = time.time()
        n = pip_join_shuffle_codegen(feats, zones, res=7).count()
        times.append(time.time() - t0)
    out = {"cores": cores, "verts": verts, "rows": n,
           "sec": round(min(times), 2),
           "rows_per_sec": round(n / min(times), 1)}
    if measure_bytes:
        after = _ui_shuffle_totals(port)
        for k in before:
            out[k] = (after[k] - before[k]) // 3  # per timed run (3 runs)
        out["shuffle_bytes_per_row"] = round(
            (out["shuffle_write"] + out["shuffle_read"]) / n, 2)
        out["traffic_gb_per_sec"] = round(
            (out["shuffle_write"] + out["shuffle_read"]
             + out["input_bytes"]) / min(times) / 1e9, 2)
    spark.stop()
    print(json.dumps(out))
    return out


def main() -> None:
    if "--single" in sys.argv:
        i = sys.argv.index("--single")
        cores, verts = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        run_pip(cores, verts, measure_bytes="--bytes" in sys.argv)
        return

    stream = stream_sweep()
    if "--stream" in sys.argv:
        print(json.dumps(stream))
        return

    import subprocess

    prepare_input()

    def sub(cores, verts, measure=False):
        args = [sys.executable, os.path.abspath(__file__),
                "--single", str(cores), str(verts)]
        if measure:
            args.append("--bytes")
        out = subprocess.run(
            args, capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        return json.loads(out.stdout.strip().splitlines()[-1])

    # (2) measured shuffle bytes at 8 cores, 8-vertex zones
    m8 = sub(8, 8, measure=True)
    # (3) compute-heavier refine: 64-vertex zones at 2 vs 8 cores
    h2 = sub(2, 64)
    h8 = sub(8, 64)
    # baseline 8-vertex at 2 cores for the same-run comparison
    b2 = sub(2, 8)
    eff_heavy = (h2["sec"] / h8["sec"]) / 4
    eff_base = (b2["sec"] / m8["sec"]) / 4

    sat = stream[8] and round(stream[32] / stream[8], 2)
    report = f"""# BENCH/BANDWIDTH — the no-broadcast PIP ceiling, measured

Three measurements upgrading BASELINE.md's bandwidth-ceiling *argument*
to numbers (r4 verdict Next #6). Input: {PAGES_N:,} pages -> features;
200 zones; res 7; min-of-3 per level; fresh JVM per level with
ActiveProcessorCount pinned.

## 1. STREAM-like triad sweep (aggregate GB/s by process count)

| processes | aggregate GB/s | per-process GB/s |
|---|---|---|
""" + "".join(
        f"| {p} | {v} | {round(v / p, 1)} |\n" for p, v in stream.items()
    ) + f"""
32-process aggregate is {sat}x the 8-process aggregate (1.0 = no
growth, 4.0 = linear). Read the curve, not a narrative: in the r5
capture, 2->8 scaled linearly and only the 8->32 step was sub-linear —
see BENCH/BANDWIDTH.md for the hand-merged analysis.

## 2. Measured PIP shuffle traffic at local[8] (8-vertex zones)

* output rows: {m8['rows']:,} in {m8['sec']} s = {m8['rows_per_sec']:,.0f} rows/s
* shuffle write {m8['shuffle_write'] / 1e9:.2f} GB + read {m8['shuffle_read'] / 1e9:.2f} GB + input {m8['input_bytes'] / 1e9:.2f} GB per run
* = {m8['shuffle_bytes_per_row']} shuffle bytes per output row
* = **{m8['traffic_gb_per_sec']} GB/s of storage+shuffle traffic**, to compare
  against the {stream[8]} GB/s 8-process STREAM ceiling (r5 capture:
  three orders of magnitude below it — the shuffle is NOT the
  bottleneck; see BENCH/BANDWIDTH.md).

## 3. Compute-heavier refine isolates the cause (64-vertex zones)

Same leg, same shuffle bytes per candidate row, 8x ray-cast arithmetic
per row (64-vertex polygons):

| zones | local[2] | local[8] | efficiency |
|---|---|---|---|
| 8-vertex (baseline) | {b2['sec']} s | {m8['sec']} s | {eff_base:.2f} |
| 64-vertex (compute-heavy) | {h2['sec']} s | {h8['sec']} s | **{eff_heavy:.2f}** |

Compute-heavy vs baseline efficiency: {eff_heavy:.2f} vs {eff_base:.2f} — if raising compute-per-byte does NOT raise efficiency, bandwidth is not the 2-vs-8 limiter (the r5 finding).
The plan is identical in both cases (same shuffle keys, zero broadcast);
only the per-row arithmetic grew.

Raw: ```{json.dumps({'stream': stream, 'pip8_measured': m8,
                     'heavy2': h2, 'heavy8': h8, 'base2': b2})}```
"""
    with open("BENCH/BANDWIDTH_RAW.md", "w") as f:
        f.write(report)
    print("wrote BENCH/BANDWIDTH_RAW.md (raw capture; BENCH/BANDWIDTH.md is the hand-merged analysis - do not clobber)")


if __name__ == "__main__":
    main()
