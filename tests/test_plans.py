"""Plan properties of the engine, asserted on the plans Spark builds.

Two tables:

* ``_CLAIMS``: (builder, broadcast threshold, plan assertions) rows. Each
  builds one plan at sf0.001 and checks its operators in
  ``explain("formatted")``: no sort or window in the pyramid and the
  capped summaries, no parquet scan under the staged self-joins (every
  read goes through the checkpointed stage), the filter queries'
  predicates in the scan's ``PushedFilters``, no broadcast in the as-of
  join and the connected-components star round at threshold -1, the
  adaptive kNN's exchange and window counts, and no Python operator on
  the all-JVM query paths.
* ``_BUILDERS``: building and explaining a public operator's plan starts
  no Spark job.

Besides the tables, one join-condition claim: both PIP forms test the
bbox before the ray cast (``test_pip_tests_bbox_before_ray_cast``).

Plan claims pinned elsewhere, not repeated here: the no-broadcast PIP and
kNN at threshold -1 (``test_joins.py``:
``test_pip_shuffle_codegen_no_broadcast_no_python``,
``test_knn_shuffle_no_broadcast_no_python``), subquery decorrelation
(``test_queries_oracle.py::test_correlated_subqueries_decorrelate``) and
the overlay twin at -1 (``test_queries_oracle.py::
test_overlay_poly_shuffle_equals_broadcast_and_no_broadcast_plan``).
"""

import re
import uuid
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from cloudtile_spark import caching, geom
from cloudtile_spark.operators import borders, mvt, pyramid, raster
from cloudtile_spark.operators.attributes import accumulate_attributes
from cloudtile_spark.operators.extract import extract_features
from cloudtile_spark.operators.graph import _large_star, _small_star
from cloudtile_spark.operators.joins import (
    knn_join_adaptive, knn_join_shuffle, pip_join, pip_join_shuffle_codegen)
from cloudtile_spark.operators.temporal import asof_join
from cloudtile_spark.queries import REGISTRY, docs_geo, load_views
from cloudtile_spark.settings import TilingSettings
from cloudtile_spark.sources.pages import synth_pages
from cloudtile_spark.sources.zones import synth_zones

from tests.conftest import SF_DIR

_SORT, _WINDOW = r"Sort\w*", r"Window\w*"
_PYTHON = r"\w*(Python|InPandas|InArrow)\w*"  # MapInPandas, ArrowEvalPython..
_NESTED = r"CartesianProduct|BroadcastNestedLoopJoin"
_JOIN = r"\w*Join"


def _explain(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _operators(text: str) -> Counter:
    """Operator names of a formatted plan: one per ``(id) Name`` header,
    subqueries and cached-relation plans included."""
    return Counter(re.findall(
        r"^\(\d+\) (.+?)\s*(?:\[codegen id : \d+\])?$", text, re.M))


def _star_round(spark):
    """One connected-components round, the whole per-round plan (each
    round re-plans from a checkpoint)."""
    edges = spark.range(0, 1000).select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 997).alias("v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    return _small_star(_large_star(sym))


def _claim(name, build=None, threshold=None, zero=(), count=None, pushed=()):
    """One row: the plan of ``build(spark)`` (by default the registry
    query ``name``) built at broadcast ``threshold`` has no operator whose
    name matches a ``zero`` pattern, exactly ``count`` of each named
    operator, and each ``pushed`` predicate in a scan's PushedFilters."""
    build = build or (lambda spark: REGISTRY[name].spark_fn(spark, SF_DIR))
    return pytest.param(build, threshold, zero, count or {}, pushed, id=name)


def _docs_features(spark):
    load_views(spark, SF_DIR)
    return docs_geo(spark).withColumnRenamed("doc_id", "feature_id")


def _staged(name, n):
    return _claim(name, zero=("Scan parquet",),
                  count={"Scan ExistingRDD": n})


_CLAIMS = [
    # the cap is a salted two-phase hash agg, not a window sort
    _claim("build_pyramid", lambda spark: pyramid.build_pyramid(
        _docs_features(spark), minz=0, maxz=8), zero=(_SORT, _WINDOW)),
    # the skew-sensitive cap and merge paths: a window here is one reducer
    # sorting the z0 hot tile
    *(_claim(n, zero=(_WINDOW, _SORT)) for n in (
        "coalesce_densest_cap", "coalesce_union_merge",
        "accumulate_attribute_settings")),
    # the signature/bucket stages are read through the checkpoint, never
    # re-scanned per self-join reference
    _staged("dedup_minhash_lsh", 5),
    _staged("dedup_simhash", 3),
    _staged("dedup_ngram_jaccard", 5),
    _staged("ann_lsh_topk", 10),
    _staged("dedup_embedding_cosine", 2),
    _claim("feature_filter",
           pushed=("EqualTo(lang,en)", "GreaterThan(n_chars,200)")),
    _claim("feature_filter_expr", pushed=("In(lang, [en,fr])",)),
    _claim("tpch_q3", pushed=("EqualTo(c_mktsegment,BUILDING)",)),
    # union + window in place of the pairwise inequality join
    _claim("ts_asof_join", threshold=-1, zero=("BroadcastExchange", _JOIN)),
    # min-per-node aggs joined back on the node key: shuffle only
    _claim("cc_star_round", _star_round, threshold=-1,
           zero=("BroadcastExchange",)),
    # the bbox range join is a broadcast nested-loop join by design
    _claim("pip_codegen_join", zero=(_PYTHON,)),
    # the adaptive kNN picks its level and ring cells in one aggregation
    # (no join back to the ring table, no level distinct) and certifies in
    # one window: shuffles for the finest counts, the level pick and the
    # ring and brute-force top-k windows; broadcasts for the two ring
    # tables, the certified ids and the failed queries
    _claim("knn_adaptive_k5", count={
        "Exchange": 4, "BroadcastExchange": 4, "Window": 3}),
    *(_claim(n, zero=(_PYTHON, _NESTED)) for n in (
        "text_tfidf_topk", "geo_radius_pairs_join", "pareto_skyline",
        "graph_triangles", "trajectory_tile_length",
        "events_funnel_conversion", "text_bigram_topk")),
]


@contextmanager
def _broadcast_threshold(spark, threshold):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if threshold is not None:
        spark.conf.set(key, str(threshold))
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("build,threshold,zero,count,pushed", _CLAIMS)
def test_plan_claims(spark, build, threshold, zero, count, pushed):
    try:
        with _broadcast_threshold(spark, threshold):
            text = _explain(build(spark))
    finally:
        caching.release_staged()
    ops = _operators(text)
    assert ops, text
    for pattern in zero:
        assert not [o for o in ops if re.fullmatch(pattern, o)], ops
    for op, n in count.items():
        assert ops[op] == n, ops
    filters = re.findall(r"^PushedFilters: (.*)$", text, re.M)
    for predicate in pushed:
        assert any(predicate in f for f in filters), filters


@pytest.fixture(scope="module")
def inputs(spark):
    """Small frames for every builder: pages, cached point features, kNN
    queries, and 20 of the points with props, as points and as WKB."""
    pages = synth_pages(spark, 3000, partitions=8).drop("page_id")
    feats = extract_features(pages).select(
        "feature_id", "lon", "lat").cache()
    rows = [(r.feature_id, r.lon, r.lat, {"rank": str(r.feature_id % 13)})
            for r in feats.orderBy("feature_id").limit(20).collect()]
    pts = spark.createDataFrame(rows, "feature_id long, lon double, "
                                      "lat double, props map<string,string>")
    wkb = spark.createDataFrame(
        [(i, "point", bytearray(geom.wkb_point(lon, lat)), p)
         for i, lon, lat, p in rows],
        "feature_id long, geom_type string, geom_wkb binary, "
        "props map<string,string>")
    queries = feats.filter(F.col("feature_id") % 151 == 0).select(
        F.col("feature_id").alias("query_id"),
        F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
    yield {"pages": pages, "feats": feats, "queries": queries, "pts": pts,
           "wkb": wkb}
    feats.unpersist()


def _raster(spark):
    return raster.rasterize_zones(spark, synth_zones(10), z=7, size=64)


def _asof(spark):
    """Odd events joined as of the even ones, per user."""
    ev = spark.range(40).select(
        (F.col("id") % 4).alias("user_id"), F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"))
    even, odd = ev.where("event_id % 2 = 0"), ev.where("event_id % 2 = 1")
    return asof_join(even, odd, on="ts", by="user_id",
                     right_cols=("event_id",), tiebreak="event_id")


def _accumulate(pts):
    s = TilingSettings()
    s["attribute-type"] = {"rank": "int"}
    s["accumulate-attribute"] = {"rank": "sum"}
    return accumulate_attributes(
        pts.withColumn("grp", F.col("feature_id") % 3), s, ["grp"])


def _squares(spark):
    """Two unit squares sharing the edge x = 1, as WKB polygons."""
    rings = [[(x, 0.0), (x + 1, 0.0), (x + 1, 1.0), (x, 1.0), (x, 0.0)]
             for x in (0.0, 1.0)]
    return spark.createDataFrame(
        [(i, "polygon", bytearray(geom.wkb_polygon(np.array(r))))
         for i, r in enumerate(rings)],
        "feature_id long, geom_type string, geom_wkb binary")


_BUILDERS = {
    "pip_join": lambda s, i: pip_join(i["feats"], synth_zones(25)),
    "pip_join_shuffle_codegen":
        lambda s, i: pip_join_shuffle_codegen(i["feats"], synth_zones(25)),
    "knn_join_adaptive":
        lambda s, i: knn_join_adaptive(i["feats"], i["queries"], k=5),
    "knn_join_shuffle":
        lambda s, i: knn_join_shuffle(i["feats"], i["queries"], k=5),
    "encode_point_tiles":
        lambda s, i: mvt.encode_point_tiles(i["pts"], 0, 3),
    "encode_geom_tiles": lambda s, i: mvt.encode_geom_tiles(i["wkb"], 0, 3),
    "build_pyramid":
        lambda s, i: pyramid.build_pyramid(i["feats"], minz=0, maxz=8),
    "density_capped_summary":
        lambda s, i: pyramid.density_capped_summary(i["feats"], 3, 20),
    "coalesce_densest_summary":
        lambda s, i: pyramid.coalesce_densest_summary(i["feats"], 3, 20),
    "extract_features": lambda s, i: extract_features(i["pages"]),
    "rasterize_zones": lambda s, i: _raster(s),
    "vectorize_tiles": lambda s, i: raster.vectorize_tiles(_raster(s), 64),
    "zonal_stats": lambda s, i: raster.zonal_stats(_raster(s), 64),
    "polygonize_tiles":
        lambda s, i: raster.polygonize_tiles(_raster(s), 64),
    "asof_join": lambda s, i: _asof(s),
    "accumulate_attributes": lambda s, i: _accumulate(i["pts"]),
    "protected_nodes": lambda s, i: borders.protected_nodes(_squares(s)),
    "tile_cover": lambda s, i: mvt.tile_cover(i["wkb"], 0, 3),
}
_PLAN_TIME_JOBS = pytest.mark.xfail(strict=True, reason=(
    "40 plan-time jobs: the eager checkpoint and one _checksum action per "
    "connected-components round (CHANGES.md FOUND, ROADMAP item 7)"))


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=_PLAN_TIME_JOBS) if n == "polygonize_tiles" else n
    for n in _BUILDERS])
def test_plan_builds_without_jobs(spark, inputs, name):
    """Building and explaining an operator's plan starts no Spark job: no
    operator probes its data while the plan is only being built."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build and explain a plan")
    try:
        _explain(_BUILDERS[name](spark, inputs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        caching.release_staged()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("name", ["pip_join", "pip_join_shuffle_codegen"])
def test_pip_tests_bbox_before_ray_cast(spark, inputs, name):
    """Both PIP forms test the zone bbox before the ray cast: in the join
    condition the four bbox compares come before the first ``CASE WHEN``
    of the unrolled ray cast, so the cheap compares short-circuit it for
    every pair outside the bbox."""
    plan = _BUILDERS[name](spark, inputs)._jdf.queryExecution() \
        .executedPlan().toString()
    cond = next(ln for ln in plan.splitlines()
                if re.search(r"(BroadcastNestedLoop|ShuffledHash)Join", ln))
    ray = cond.index("CASE WHEN")
    bbox = [re.search(rf"\({c}#\d+ {op} {b}#\d+\)", cond)
            for c, op, b in (("lon", ">=", "xmin"), ("lon", "<=", "xmax"),
                             ("lat", ">=", "ymin"), ("lat", "<=", "ymax"))]
    assert all(bbox), cond
    assert max(m.start() for m in bbox) < ray, cond
