#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

Runs one workload (``tileset``, ``join_broadcast`` or ``join_shuffle``, see
workloads.py) against the engine's public operator functions on
local[<cores of this host>] from one driver process, checks every job's
output, and prints one JSON result line as the last line of stdout.

    python3 perfbench/run.py --workload tileset --seed 1 --seconds 20 --trace 0

``--workload all`` runs the three workloads one after the other, each in
its own process, and prints one result line per workload.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
jobs with a Spark job group around every phase and reports the per-layer
metrics (spans and Spark stage metrics), and writes the spans to
``.perfbench_work/traces/``. Run from the repository root; everything the
run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

PHASES = ("extract", "mvt", "archive", "pip", "knn")
# a run measures --seconds of job time, and never fewer jobs than this: a
# join job takes 8-16 s on a 4-core host, and a run that measured only the
# first job after the warm-up (the slowest, its planning code still being
# JIT-compiled) read 20-30% above one that measured two
MIN_JOBS = 2
ARCHIVE_FIELDS = ("stream_wait_s", "write_self_s", "n_addressed",
                  "n_contents", "dedup_ratio", "leaves")


def log(*a) -> None:
    print("perfbench:", *a, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-mem", default="3g",
                   help="spark.driver.memory (SPARK_DRIVER_MEM)")
    p.add_argument("--save", default=None,
                   help="also write the full report (jobs, spans) here")
    return p.parse_args(argv)


def start_session(cores: int, driver_mem: str, work: Path, conf: dict):
    from cloudtile_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers are started by the JVM and must import the package
    # from this checkout whatever the working directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    return get_spark("perfbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        **conf,
    })


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    from py4j.protocol import Py4JError

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except (Py4JError, OSError) as e:  # the JVM died during the run
        log(f"stopping Spark: {e}")
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def jvm_alive(spark) -> bool:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc is None or proc.poll() is None


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tr, jobs: list[dict], cores: int) -> dict:
    """Median over successful jobs of every per-phase number."""
    out = {}
    by_phase: dict[str, list[dict]] = {p: [] for p in PHASES}
    for job in jobs:
        for rec in tr.spans:
            if rec["job"] == job["job"] and rec["name"] in PHASES:
                c = dict(rec["counters"])
                c["wall_s"] = rec["end"] - rec["start"]
                c["build_s"] = tr.children(rec, "build")
                by_phase[rec["name"]].append(c)
    for p, recs in by_phase.items():
        def m(key, recs=recs):
            return median(r.get(key, 0) for r in recs)
        for key in ("wall_s", "build_s", "build_jobs", "jobs", "stages",
                    "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes"):
            out[f"{p}.{key}"] = m(key)
        out[f"{p}.busy_frac"] = median(
            r.get("exec_run_s", 0) / (r["wall_s"] * cores) for r in recs)
        if p == "mvt":
            out["mvt.jvm_cpu_frac"] = median(
                r["exec_cpu_s"] / r["exec_run_s"] for r in recs
                if r.get("exec_run_s"))
        if p == "archive":
            for r in recs:
                if r.get("n_addressed"):
                    r["dedup_ratio"] = r["n_contents"] / r["n_addressed"]
            for key in ARCHIVE_FIELDS:
                out[f"archive.{key}"] = m(key)
    for key in ("extract.yield", "mvt.tiles", "mvt.bytes_per_tile",
                "archive.bytes_per_feature", "pip.rows_out", "knn.rows_out",
                "caching.released"):
        out[key] = median(j["counters"].get(key, 0) for j in jobs)
    return out


def run(args) -> int:
    from workloads import WORKLOADS
    from tracing import RssSampler, Tracer

    from cloudtile_spark import caching

    cls = WORKLOADS[args.workload]
    # the metrics this mode reports, in BENCHMARK.json's order and units
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in bench["per_layer" if args.trace else "end_to_end"]}
    cores = len(os.sched_getaffinity(0))
    work = WORK / f"run-{os.getpid()}"
    sampler = RssSampler(bool(args.trace)).start()
    spark = None
    try:
        # --- set-up: session start, input generation, warm-up jobs ---
        t0 = time.perf_counter()
        spark = start_session(cores, args.driver_mem, work, cls.spark_conf)
        t1 = time.perf_counter()
        wl = cls(spark, work, args.seed, cores)
        wl.generate()
        t2 = time.perf_counter()
        # the reference outputs are built before the warm-up, so the
        # measured jobs follow the warm-up jobs directly; not timed
        wl.prepare_checks()
        t3 = time.perf_counter()
        for i in range(-cls.warmup_jobs, 0):
            wl.job(i, Tracer(spark, False))
            caching.release_staged()
            wl.cleanup(i)
        t4 = time.perf_counter()
        setup = {"session_s": t1 - t0, "gen_s": t2 - t1,
                 "warmup_s": t4 - t3, "setup_s": (t2 - t0) + (t4 - t3)}
        log("set-up: " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items())
            + f", checks_s {t3 - t2:.2f}")

        # --- measured jobs ---
        tr = Tracer(spark, bool(args.trace))
        sampler.reset()
        ok_jobs: list[dict] = []
        attempted = failed = 0
        measured_s = 0.0  # timed job spans only, not the output checks
        while True:
            attempted += 1
            i = attempted
            # every measured job starts from a collected heap, so where a
            # full collection lands does not depend on the jobs before it
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            try:
                with tr.span("job", i) as jrec:
                    out = wl.job(i, tr)
                    released = caching.release_staged()
                errs = wl.check(out)
            except Exception:
                errs = [f"raised:\n{traceback.format_exc()}"]
            finally:
                wl.cleanup(i)
            measured_s += jrec["end"] - jrec["start"]
            if errs:
                failed += 1
                log(f"job {i} failed: {errs}")
            else:
                out["counters"]["caching.released"] = released
                ok_jobs.append({"job": i, "wall_s": jrec["end"] - jrec["start"],
                                "counters": out["counters"]})
                log(f"job {i}: {ok_jobs[-1]['wall_s']:.3f}s")
            if not jvm_alive(spark):
                log("the JVM is gone; stopping")
                break
            if measured_s >= args.seconds and attempted >= MIN_JOBS:
                break
        peak_mb = sampler.peak_mb()

        job_s = median(j["wall_s"] for j in ok_jobs)
        if args.trace:
            metrics = per_layer(tr, ok_jobs, cores)
            metrics.update({
                "session.start_s": setup["session_s"],
                "sources.gen_s": setup["gen_s"],
                "setup.warmup_s": setup["warmup_s"],
                "trace.job_s": job_s,
                "peak_rss_mb": peak_mb,
                "ops_failed_frac": failed / attempted,
            })
        else:
            metrics = {
                "setup_s": setup["setup_s"],
                "job_s": job_s,
                "rows_per_s": wl.input_rows / job_s if job_s else 0.0,
            }
        report = {
            "correct": failed == 0 and bool(ok_jobs),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        }
        log(f"{len(ok_jobs)} jobs ok of {attempted}; job_s median "
            f"{job_s:.3f}; peak rss {peak_mb:.0f} MB")
        if args.trace or args.save:
            full = {"workload": args.workload, "seed": args.seed,
                    "cores": cores, "setup": setup, "jobs": ok_jobs,
                    "spans": tr.spans, "result": report}
            save = Path(args.save) if args.save else (
                WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
            save.parent.mkdir(parents=True, exist_ok=True)
            save.write_text(json.dumps(full, indent=1, default=str))
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    return 0


def run_all(args, names) -> int:
    """Run every workload in its own process, one after the other, and
    print one result line per workload, tagged with its name."""
    code = 0
    for name in names:
        cmd = [sys.executable, __file__, "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--driver-mem", args.driver_mem]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            log(f"{name}: exit {proc.returncode}, no result")
            code = 1
            continue
        print(json.dumps({"workload": name, **json.loads(lines[-1])}),
              flush=True)
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "cloudtile_spark" / "__init__.py").is_file():
        log(f"no cloudtile_spark package next to {HERE.name}/; "
            "run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
