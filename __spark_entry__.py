"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship: documents-with-geo -> tile pyramid z0-8 via the
               engine's DataFrame operators (salted per-tile top-k, checksum
               lineage columns).
queries()    — one entry per implemented operator from SURVEY.md §2
               (see cloudtile_spark/queries.py REGISTRY).
oracle_sql() — DuckDB-runnable oracle for each query (same math, same
               aliases; value-hash-exact by construction).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cloudtile_spark import queries as _q  # noqa: E402
from cloudtile_spark.operators.pyramid import build_pyramid  # noqa: E402

import pyspark.sql.functions as F  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: deterministic geo extraction over the documents table ->
    z0-8 tile pyramid with per-tile feature caps and checksums."""
    sf_dir = "/root/testdata/sf0.001"
    _q.load_views(spark, sf_dir)
    feats = _q.docs_geo(spark).withColumnRenamed("doc_id", "feature_id")
    return build_pyramid(feats, minz=0, maxz=8).select(
        "z", "x", "y", "feature_count", "checksum"
    ).orderBy("z", "x", "y")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
