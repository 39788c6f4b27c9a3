"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for the multi-executor cluster (the reference
runs on a 16 vCPU / 120 GiB Fargate task, reference cdk/cloudtile_stack.py:54-61;
our target is spark-submit at N and 4N executors). The configs below are the
ones that matter at 100 TB and are harmless at test scale:

- AQE on (runtime coalesce + skew-join split for dense metro tiles)
- Arrow on (every Python touchpoint is an Arrow batch)
- shuffle partitions sized to cores locally; on a real cluster this should be
  2-3x total executor cores (or left to AQE's coalesce from a higher number).

Python workers run under ``cloudtile_spark.pydaemon``, PySpark's daemon
with zip archives re-read only when they change (a reused worker otherwise
re-parses ``pyspark.zip`` and the jars before every task). Workers import
the engine from the driver's package root, which goes into
``spark.executorEnv.PYTHONPATH``, whatever the driver's working directory
or ``PYTHONPATH``.

It also owns the one sizing rule of the operators: ``parallelism`` is the
only reading of the session's core count, and ``salt_buckets`` the one salt
count built on it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the package, on every Python worker's path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "cloudtile_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "cloudtile_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # shuffle/spill on tmpfs: on this single-node proxy the OS disk is
        # one shared spindle; a real cluster has per-node shuffle disks that
        # scale with executors — RAM-backed local dirs restore that property
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parallelism(spark: SparkSession) -> int:
    """How many pieces this session splits work into: its core count
    (``defaultParallelism``). Every repartition width is this number."""
    return spark.sparkContext.defaultParallelism


def salt_buckets(spark: SparkSession) -> int:
    """The one salt rule: 2x ``parallelism``, so a hot key's work spreads
    over every core with stragglers interleaved. The pyramid top-cap and
    the kNN brute pass salt at this; the no-broadcast PIP, whose every salt
    replicates the zone cover, at a quarter of it. Every salted output is
    salt-invariant (tests pin each operator at two salts), so this moves
    only the spread, never a result."""
    return 2 * parallelism(spark)
