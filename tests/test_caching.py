"""Staging-lifecycle tests (caching.py). Persisted stages are released on
the next registry query's entry, so back-to-back runs do not accumulate
caches (a leak that once skewed later bench legs 2-3x). Checkpointed
stages are never freed by hand: a result built earlier still collects
after any later query or release, in this session or another one, and
no temp view outlives the statement that reads it."""

import gc
import time

import pytest

from cloudtile_spark import caching
from cloudtile_spark.queries import REGISTRY, TABLES

SF_DIR = "/root/testdata/sf0.001"

# registry queries that checkpoint a stage read by SQL text
_CHECKPOINTED = [
    "geo_dbscan_cells", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_cc_clusters", "ann_lsh_topk",
    "ann_pq_topk", "dedup_embedding_cosine", "graph_triangles",
    "ts_gap_fill",
]
# registry queries that persist a stage read through the DataFrame API
_PERSISTED = ["knn_cell_k5", "coalesce_union_merge"]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _stored_rdd_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos}


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_staged_query_releases_on_next_entry(spark):
    caching.release_staged()
    spark.catalog.clearCache()
    # a persisted stage lives until the next registry query's entry...
    REGISTRY["knn_cell_k5"].spark_fn(spark, SF_DIR).count()
    assert len(caching._STAGED) == 2  # query side + top-k
    assert not _cache_empty(spark)
    REGISTRY["dedup_exact"].spark_fn(spark, SF_DIR).count()
    assert _cache_empty(spark)
    assert caching._STAGED == []
    # ...while checkpoint blocks live as long as a plan references them
    before = _stored_rdd_ids(spark)
    df = REGISTRY["dedup_minhash_lsh"].spark_fn(spark, SF_DIR)
    df.count()
    ids = _stored_rdd_ids(spark) - before
    assert len(ids) == 3  # hashed + band rows + shingle sets
    assert caching._STAGED == []  # checkpoints are not recorded
    assert caching.release_staged() == 0
    assert ids <= _stored_rdd_ids(spark)
    # once the result is dropped and both heaps are collected, the
    # ContextCleaner frees them
    del df
    deadline = time.monotonic() + 60
    while ids & _stored_rdd_ids(spark):
        assert time.monotonic() < deadline, ids & _stored_rdd_ids(spark)
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)


def test_release_staged_idempotent(spark):
    assert caching.release_staged() == 0
    df = caching.stage(spark.range(10))
    assert df.count() == 10
    assert caching.release_staged() == 1
    assert caching.release_staged() == 0


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh", "dedup_simhash", "ann_lsh_topk", "graph_triangles",
    *_PERSISTED])
def test_staged_result_outlives_next_query(spark, name):
    """A staged query's result, built but not yet collected, collects the
    same rows after the next registry query has started (and released
    what it releases)."""
    want = _rows(REGISTRY[name].spark_fn(spark, SF_DIR))
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    REGISTRY["dedup_exact"].spark_fn(spark, SF_DIR)
    assert _rows(df) == want


def test_staged_result_survives_other_session(spark):
    """A result of session A, built but not yet collected, still collects
    the same rows after session B (same SparkContext) runs a staged query
    and releases its stages."""
    want = _rows(REGISTRY["dedup_minhash_lsh"].spark_fn(spark, SF_DIR))
    df = REGISTRY["dedup_minhash_lsh"].spark_fn(spark, SF_DIR)
    other = spark.newSession()
    REGISTRY["dedup_minhash_lsh"].spark_fn(other, SF_DIR).count()
    REGISTRY["knn_cell_k5"].spark_fn(other, SF_DIR).count()
    caching.release_staged()
    assert _rows(df) == want


@pytest.mark.parametrize("name", _CHECKPOINTED + _PERSISTED)
def test_staged_query_leaves_only_table_views(spark, name):
    """After a staged registry query, the session's catalog holds the
    input tables' views and nothing else."""
    session = spark.newSession()
    try:
        REGISTRY[name].spark_fn(session, SF_DIR)
        names = {t.name for t in session.catalog.listTables()}
        assert names == set(TABLES)
    finally:
        caching.release_staged()
