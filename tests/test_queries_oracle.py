"""Every registered query matches its DuckDB oracle at sf0.001 (fast local
mirror of the driver's CORRECTNESS gate; tools/check_correctness.py runs the
same comparison at sf0.01)."""

import hashlib
import json

import duckdb
import pytest

from cloudtile_spark.queries import REGISTRY, TABLES

from tests.conftest import SF_DIR

import sys
import os

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from check_correctness import table_hash  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    for t in TABLES:  # the entry registers the views it reads
        spark.catalog.dropTempView(t)
    sdf = q.spark_fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = [c.lower() for c in sdf.columns]
    assert len(srows) > 0, "query returned no rows"
    if not q.oracle:
        return
    res = duck.execute(q.oracle)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols)
    sh, sn = table_hash(scols, srows)
    dh, dn = table_hash(dcols, drows)
    assert sn == dn, f"rowcount {sn} vs {dn}"
    assert sh == dh, "value hash mismatch"


# sha256 of the sorted (name, oracle SQL) pairs of the registry. The oracle
# texts are the correctness gate: a change to any of them must be deliberate,
# and it updates this pin in the same change.
_ORACLE_TEXTS_SHA256 = \
    "6441f0d1df8f7ed1ed9639cb2e6945340ebc64544fd88ac652effd9755716ae4"


def test_oracle_texts_are_pinned():
    pairs = sorted((name, q.oracle) for name, q in REGISTRY.items())
    digest = hashlib.sha256(json.dumps(pairs).encode()).hexdigest()
    assert digest == _ORACLE_TEXTS_SHA256


def test_registry_wraps_each_builder_once():
    """Every entry's ``spark_fn`` is the one registry wrapper: its
    ``__wrapped__`` is the builder itself, not a second wrapper (which
    would release the staged frames twice per call)."""
    twice = [name for name, q in REGISTRY.items()
             if hasattr(q.spark_fn.__wrapped__, "__wrapped__")]
    assert twice == []


def test_registry_entry_is_the_one_caller_of_load_views():
    """Under cloudtile_spark/ only the registry entry calls ``load_views``:
    it registers the views once per query call, and builders and helpers
    read the views it left."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "cloudtile_spark"
    callers = []

    class Calls(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.scope = path, []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Call(self, node):
            f = node.func
            if getattr(f, "id", getattr(f, "attr", None)) == "load_views":
                callers.append((self.path, ".".join(self.scope)))
            self.generic_visit(node)

    for path in sorted(pkg.rglob("*.py")):
        Calls(str(path.relative_to(pkg))).visit(ast.parse(path.read_text()))
    assert callers == [("queries.py", "_register.deco.entry")]


def test_skyline_two_phase_equals_brute_force(spark):
    """The bucketed two-phase window skyline is EXACT for any bucketing —
    verified against an O(n^2) brute force on adversarial inputs: heavy
    x-ties, y-ties, exact duplicate points, and a fully dominated chain.
    (The registry query itself is oracle-checked; this pins the
    algorithm on data the fixture tables don't exercise.)"""
    cases = [
        # (x, y) pools designed to stress tie handling
        [(5, 5), (5, 5), (5, 4), (4, 5), (3, 3)],          # duplicates kept
        [(i, 10 - i) for i in range(11)],                   # anti-chain: all
        [(i, i) for i in range(10)],                        # chain: one
        [(i % 4, (i * 7) % 5) for i in range(40)],          # dense ties
        [((i * 2654435761) % 97, (i * 40503) % 89)
         for i in range(200)],                              # pseudo-random
    ]
    for pts in cases:
        rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
        df = spark.createDataFrame(rows, "doc_id long, x long, y long")
        df.createOrReplaceTempView("sky_pts")
        got = spark.sql("""
            WITH p AS (SELECT doc_id, cast(doc_id % 3 as bigint) AS bkt,
                              x, y FROM sky_pts),
            l AS (SELECT doc_id, x, y,
                         max(y) OVER (PARTITION BY bkt ORDER BY x
                                      RANGE BETWEEN 1 FOLLOWING
                                          AND UNBOUNDED FOLLOWING) AS mg,
                         max(y) OVER (PARTITION BY bkt, x) AS me
                  FROM p),
            u AS (SELECT doc_id, x, y FROM l
                  WHERE (mg IS NULL OR mg < y) AND y >= me),
            g AS (SELECT doc_id, x, y,
                         max(y) OVER (ORDER BY x
                                      RANGE BETWEEN 1 FOLLOWING
                                          AND UNBOUNDED FOLLOWING) AS mg,
                         max(y) OVER (PARTITION BY x) AS me
                  FROM u)
            SELECT doc_id FROM g
            WHERE (mg IS NULL OR mg < y) AND y >= me
        """)
        want = {i for i, (x, y) in enumerate(pts)
                if not any(bx >= x and by >= y and (bx > x or by > y)
                           for bx, by in pts)}
        assert {r.doc_id for r in got.collect()} == want, pts


def test_radius_pairs_grid_equals_brute_force(spark):
    """The 3x3 cell-probe epsilon join generates each qualifying pair
    EXACTLY once (no DISTINCT) and misses none — verified against brute
    force on adversarial point sets: exact cell-boundary coordinates,
    co-located duplicates, pairs straddling cell corners, and pairs at
    exactly epsilon (inclusive bound)."""
    eps = 100
    pts = (
        # cell boundaries at multiples of eps; corners; exact-eps pairs
        [(0, 0), (100, 0), (0, 100), (100, 100), (99, 99), (101, 101),
         (200, 200), (60, 80), (250, 250), (250, 250), (137, 42),
         (300, 0), (300, 100), (205, 205)]
        + [((i * 73) % 450, (i * 131) % 450) for i in range(40)]
    )
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "doc_id long, mx long, my long")
    df.createOrReplaceTempView("rp_pts")
    got = spark.sql(f"""
        WITH c AS (SELECT doc_id, mx, my,
                          mx div {eps} AS cx, my div {eps} AS cy
                   FROM rp_pts),
        probes AS (SELECT doc_id, mx, my, cx + dx AS px, cy + dy AS py
                   FROM c
                   LATERAL VIEW explode(array(-1, 0, 1)) xt AS dx
                   LATERAL VIEW explode(array(-1, 0, 1)) yt AS dy)
        SELECT a.doc_id AS da, b.doc_id AS db
        FROM probes a JOIN c b
          ON a.px = b.cx AND a.py = b.cy AND a.doc_id < b.doc_id
        WHERE (a.mx - b.mx) * (a.mx - b.mx)
              + (a.my - b.my) * (a.my - b.my) <= {eps * eps}
    """).collect()
    got_pairs = [(r.da, r.db) for r in got]
    assert len(got_pairs) == len(set(got_pairs)), "pair emitted twice"
    want = {(i, j)
            for i, (xi, yi) in enumerate(pts)
            for j in range(i + 1, len(pts))
            if (xi - pts[j][0]) ** 2 + (yi - pts[j][1]) ** 2 <= eps * eps}
    assert set(got_pairs) == want


def test_triangle_orientation_equals_brute_force(spark):
    """Degree-orientation triangle counting equals the O(n^3) brute force
    on arbitrary graphs: a clique (max triangles), a star (zero), a
    triangle-free bipartite graph, and pseudo-random graphs with skewed
    degrees and duplicate/self-loop raw edges."""
    import itertools

    cases = [
        [(a, b) for a, b in itertools.combinations(range(6), 2)],  # K6
        [(0, i) for i in range(1, 9)],                             # star
        [(a, b + 4) for a in range(4) for b in range(4)],          # bipart
        [(i, (i * i + 7) % 30) for i in range(30)]
        + [(i, (i + 1) % 30) for i in range(30)]
        + [(5, 5), (3, 4), (4, 3)],                # self-loop + dup edges
    ]
    for raw in cases:
        df = spark.createDataFrame(raw, "a long, b long")
        df.createOrReplaceTempView("tri_raw")
        got = spark.sql("""
            WITH canon AS (SELECT DISTINCT least(a, b) AS u,
                                  greatest(a, b) AS v
                           FROM tri_raw WHERE a <> b),
            deg AS (SELECT node, count(*) AS d
                    FROM (SELECT u AS node FROM canon
                          UNION ALL SELECT v FROM canon) GROUP BY node),
            oriented AS (
              SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND c.u < c.v)
                          THEN c.u ELSE c.v END AS src,
                     CASE WHEN du.d < dv.d OR (du.d = dv.d AND c.u < c.v)
                          THEN c.v ELSE c.u END AS dst
              FROM canon c
              JOIN deg du ON du.node = c.u JOIN deg dv ON dv.node = c.v),
            wedge AS (SELECT o1.dst AS b, o2.dst AS c
                      FROM oriented o1 JOIN oriented o2
                        ON o1.src = o2.src AND o1.dst < o2.dst)
            SELECT count(*) AS n
            FROM wedge w JOIN canon e
              ON e.u = least(w.b, w.c) AND e.v = greatest(w.b, w.c)
        """).collect()[0].n
        edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
        nodes = sorted({n for e in edges for n in e})
        want = sum(1 for t in itertools.combinations(nodes, 3)
                   if {(t[0], t[1]), (t[1], t[2]), (t[0], t[2])} <= edges)
        assert got == want, (raw[:5], got, want)


@pytest.mark.parametrize("name", ["tpch_q17", "tpch_q2", "tpch_q20",
                                  "tpch_q18", "tpch_q21"])
def test_correlated_subqueries_decorrelate(spark, name):
    """The correlated-subquery TPC-H shapes must be rewritten by Catalyst
    into aggregate+join (decorrelation) — zero per-row subquery
    re-execution in the optimized plan."""
    df = REGISTRY[name].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" not in plan
    assert "list-subquery" not in plan
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" not in physical


def test_q22_anti_join_decorrelates_scalar_executes_once(spark):
    """q22 mixes both subquery kinds: the CORRELATED NOT EXISTS must
    decorrelate to an anti join (no per-row re-execution), while the
    UNCORRELATED scalar AVG bound legitimately survives as a physical
    Subquery — executed exactly once, not per row (that is the correct
    100 TB plan: one tiny aggregate job feeding a literal)."""
    df = REGISTRY["tpch_q22"].spark_fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "exists-subquery" not in plan
    assert "LeftAnti" in plan
    physical = df._jdf.queryExecution().executedPlan().toString()
    # the only surviving subquery is the once-executed scalar bound: ONE
    # distinct subquery id, however many times the plan text references it
    # (filter expr, pushed DataFilters, reuse)
    import re

    ids = set(re.findall(r"Subquery subquery#(\d+)", physical))
    assert len(ids) == 1


def test_bpe_real_matches_reference_encoder(spark):
    """The unrolled-SQL BPE tokenizer equals the independent ITERATIVE
    reference encoder (highest-priority-first loop) on every document —
    the single-pass-in-order expression is exact, not an approximation."""
    from cloudtile_spark import bpe

    assert len(bpe.MERGES) >= 32
    # single-pass equivalence preconditions: unique products, no spaces
    products = [a + b for a, b in bpe.MERGES]
    assert len(set(products)) == len(products)
    assert all(" " not in a + b for a, b in bpe.MERGES)

    sdf = REGISTRY["token_count_bpe_real"].spark_fn(spark, SF_DIR)
    got = {r.doc_id: r.n_tokens for r in sdf.collect()}
    import duckdb as dk

    con = dk.connect()
    texts = con.execute(
        f"SELECT doc_id, text FROM '{SF_DIR}/documents.parquet'").fetchall()
    assert len(got) == len(texts)
    for doc_id, text in texts:
        assert got[doc_id] == bpe.token_count(text), doc_id
    # the merges genuinely compress: fewer tokens than letters somewhere
    fewer = sum(1 for r in sdf.collect()
                if r.n_tokens < r.n_chars_letters)
    assert fewer == len(got)

    # fixture words incl. shapes the corpus never saw
    for w in ["merge", "vector", "orderjoin", "aaaa", "qqq", "scanscan"]:
        assert (bpe.encode_word_iterative(w)
                == bpe.encode_word_inorder(w))


def test_sketch_aggregates_error_bounds(spark):
    """tile_approx_stats is rows-only in the gate (sketches are
    engine-specific); here the sketches are bounded against exact twins:
    HLL within 3x its default rsd (0.05), approx percentile within the
    observed value range and near the exact median."""
    from pyspark.sql import functions as F

    from cloudtile_spark.queries import REGISTRY, docs_geo, load_views
    from cloudtile_spark import tiles

    approx = {r["x"]: r for r in
              REGISTRY["tile_approx_stats"].spark_fn(spark, SF_DIR).collect()}
    load_views(spark, SF_DIR)
    g = docs_geo(spark)
    t = spark.read.parquet(f"{SF_DIR}/documents.parquet").join(g, "doc_id")
    exact = {r["x"]: r for r in (
        t.withColumn("x", F.expr(tiles.tile_x_sql("lon", "3")))
        .groupBy("x")
        .agg(F.countDistinct("lang").alias("langs"),
             F.expr("percentile(n_chars, 0.5)").alias("p50"),
             F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
        .collect())}
    assert set(approx) == set(exact) and len(exact) > 0
    for x, e in exact.items():
        a = approx[x]
        assert abs(a["approx_langs"] - e["langs"]) <= max(1, 0.15 * e["langs"])
        assert e["lo"] <= a["p50_chars"] <= e["hi"]
        # default accuracy 10000 -> exact-ish on these group sizes
        assert abs(a["p50_chars"] - e["p50"]) <= max(2.0, 0.05 * e["p50"])


def test_overlay_poly_shuffle_equals_broadcast_and_no_broadcast_plan(spark):
    """The no-broadcast overlay twin must equal the broadcast variant
    exactly, and with the broadcast threshold disabled its plan must
    contain ZERO BroadcastExchange over data-derived frames."""
    from cloudtile_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    want = {tuple(r) for r in
            REGISTRY["zone_overlap_area_poly"].spark_fn(spark, sf).collect()}
    got = {tuple(r) for r in
           REGISTRY["zone_overlap_area_poly_shuffle"]
           .spark_fn(spark, sf).collect()}
    assert got == want and got

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["zone_overlap_area_poly_shuffle"].spark_fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        n = df.count()
        assert n > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_round5_queries_safe_on_empty_tables(spark, monkeypatch):
    """Every round-5 query must degrade to an empty (or seed-only)
    result on EMPTY input tables — no division-by-zero, no null
    explosion, no planner error. The oracle gate only sees real
    tables; this pins the degenerate edge."""
    import cloudtile_spark.queries as Q

    for t in Q.TABLES:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(0) \
            .createOrReplaceTempView(t)
    monkeypatch.setattr(Q, "load_views", lambda *a, **k: None)

    for name in [
        "text_repetition_gopher", "dedup_chunks_global",
        "text_decontaminate", "text_pii_scrub", "seq_packing",
        "sketch_countmin", "dedup_edit_distance", "cooccur_item_sim",
        "sketch_bloom_filter", "graph_kcore", "graph_label_prop",
        "graph_bfs_hops", "corpus_split_train_val",
        "sketch_sample_quantiles", "events_ntile_deciles",
        "events_anomaly_zscore", "events_markov_transitions",
        "ts_downsample_m4", "ann_cosine_topk_salted",
    ]:
        q = REGISTRY[name]
        fn = getattr(q.spark_fn, "__wrapped__", q.spark_fn)
        assert fn(spark, "unused").count() == 0, name


def test_load_views_rescans_a_table_rewritten_in_place(spark, tmp_path,
                                                       monkeypatch):
    """The scan memo stamps each file with its nanosecond mtime: a table
    rewritten in place at the same size within the same second still gets
    a fresh scan, while an untouched directory is a memo hit."""
    import shutil

    from pyspark.sql.readwriter import DataFrameReader

    import cloudtile_spark.queries as Q

    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path)
    doc = tmp_path / "documents.parquet"
    t0 = 1_700_000_000 * 10**9 + 500_000_000  # mid-second
    os.utime(doc, ns=(t0, t0))
    scans = []
    real = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        scans.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    try:
        Q.load_views(spark, str(tmp_path))
        Q.load_views(spark, str(tmp_path))
        assert len(scans) == len(TABLES)  # second call: memo hit
        os.utime(doc, ns=(t0 + 1000, t0 + 1000))  # +1 us, same size
        Q.load_views(spark, str(tmp_path))
        assert len(scans) == 2 * len(TABLES)
    finally:
        monkeypatch.undo()
        Q.load_views(spark, SF_DIR)  # don't leave views on tmp_path
