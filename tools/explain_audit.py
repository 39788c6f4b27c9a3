"""Physical-plan audit -> BENCH/PLANS.md.

Captures `explain("formatted")` evidence that the plans are the ones you'd
want at 100 TB: no sorts in the pyramid, filters/columns pushed into the
parquet scan, broadcast joins where the dim side is small.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloudtile_spark.operators.pyramid import build_pyramid  # noqa: E402
from cloudtile_spark.queries import REGISTRY, docs_geo  # noqa: E402
from cloudtile_spark.session import get_spark  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("audit", cores=2)
    sf = "/root/testdata/sf0.001"
    out = ["# BENCH/PLANS — physical plan audit (explain evidence)\n"]

    feats = docs_geo(spark, sf).withColumnRenamed("doc_id", "feature_id")
    p = plan_of(build_pyramid(feats, minz=0, maxz=8, with_ids=False))
    out.append(
        f"## pyramid z0-8 counts\n\n"
        f"- Sort operators: **{p.count('Sort')}** (cap is a hash agg, "
        f"not a window sort)\n"
        f"- HashAggregate: {p.count('HashAggregate')} (partial+final pairs)\n"
        f"- Exchange (shuffle): {p.count('Exchange')}\n"
    )

    for name in ("feature_filter", "feature_filter_expr", "pip_bbox_join",
                 "tpch_q3"):
        s = plan_of(REGISTRY[name].spark_fn(spark, sf))
        pushed = [ln.strip() for ln in s.splitlines()
                  if "PushedFilters" in ln or "ReadSchema" in ln]
        joins = sorted({w for w in s.split() if w.endswith("Join")})
        out.append(
            f"## {name}\n\n"
            + "".join(f"- `{ln[:160]}`\n" for ln in pushed)
            + (f"- join strategies: {joins}\n" if joins else "")
        )

    # the skew-sensitive cap/merge paths must be agg-only: ZERO windows and
    # ZERO sorts (a window here = one reducer sorting the z0 hot tile)
    for name in ("coalesce_densest_cap", "coalesce_union_merge",
                 "accumulate_attribute_settings"):
        s = plan_of(REGISTRY[name].spark_fn(spark, sf))
        mem = s.count("InMemoryRelation") + s.count("InMemoryTableScan")
        out.append(
            f"## {name}\n\n"
            f"- Window operators: **{s.count('Window')}**\n"
            f"- Sort operators: **{s.count('Sort')}**\n"
            f"- HashAggregate: {s.count('HashAggregate')}\n"
            f"- Exchange (shuffle): {s.count('Exchange')} (formatted-plan "
            f"lineage count; persist boundaries — {mem} in-memory scans — "
            f"mean shared subtrees execute once)\n"
        )

    # staged self-join pipelines: the expensive signature/bucket stage is
    # persisted once — the executed plan must read the source table a
    # CONSTANT number of times (CTE inlining used to re-scan per reference:
    # 20 scans for minhash/ann_lsh before staging)
    for name in ("dedup_minhash_lsh", "dedup_simhash",
                 "dedup_ngram_jaccard", "ann_lsh_topk",
                 "dedup_embedding_cosine"):
        df = REGISTRY[name].spark_fn(spark, sf)
        s = df._jdf.queryExecution().executedPlan().toString()
        scans = s.count("FileScan") + s.count("Scan parquet")
        mem = s.count("InMemory")
        out.append(
            f"## {name} (staged)\n\n"
            f"- in-memory (persisted-stage) reads: **{mem}**; parquet scans "
            f"in the plan TEXT: {scans} (the cached relation's build plan "
            f"is printed inline — it executes once, on first materialize, "
            f"not per self-join reference)\n"
        )

    # no-broadcast joins (round 3): with the broadcast threshold disabled,
    # the shuffle PIP/kNN plans must contain ZERO BroadcastExchange (ring
    # offsets and salt ids are generator expressions, not broadcast frames)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s = plan_of(REGISTRY["pip_shuffle_codegen_join"].spark_fn(spark, sf))
    out.append(
        f"## pip_shuffle_codegen_join (no-broadcast, threshold=-1)\n\n"
        f"- BroadcastExchange operators: **{s.count('BroadcastExchange')}** "
        f"(0 = nothing in the plan requires a broadcast; salt ids come "
        f"from an explode, not a broadcast frame)\n"
        f"- join strategies: "
        f"{sorted({w for w in s.split() if w.endswith('Join')})}\n"
    )
    s = plan_of(REGISTRY["knn_shuffle_k5"].spark_fn(spark, sf))
    out.append(
        f"## knn_shuffle_k5 (no-broadcast, threshold=-1)\n\n"
        f"- BroadcastExchange operators: **{s.count('BroadcastExchange')}** "
        f"(0 = nothing in the plan requires a broadcast; ring offsets and "
        f"salt ids are generator expressions on the query rows, and the "
        f"certificate/anti joins carry no hint, so they plan as "
        f"SortMergeJoin here)\n"
        f"- SortMergeJoin operators: {s.count('SortMergeJoin')}\n"
        f"- SIZE-CONTRACT NOTE (r4): `knn_join_adaptive` — the variant the "
        f"`knn_512q` bench leg headlines — BROADCASTS the query ring-cell "
        f"table by contract (documented in its docstring): query side must "
        f"fit executor memory, point side unbounded. `knn_join_shuffle` "
        f"(this section) is the large-query-side path with identical "
        f"output; both are bench legs so the broadcast-vs-shuffle trade is "
        f"measured, not assumed.\n"
    )
    # as-of join (round 3): union+window — the whole point is ONE hash
    # exchange on the key and zero joins of any kind in the plan
    s = plan_of(REGISTRY["ts_asof_join"].spark_fn(spark, sf))
    out.append(
        f"## ts_asof_join (no-broadcast, threshold=-1)\n\n"
        f"- BroadcastExchange operators: **{s.count('BroadcastExchange')}**\n"
        f"- join operators: "
        f"{sorted({w for w in s.split() if w.endswith('Join')}) or 'NONE'} "
        f"(union+window replaces the pairwise inequality join)\n"
        f"- Window operators: {s.count('Window')} (the single carry-forward "
        f"pass)\n"
        f"- Exchange (shuffle): {s.count('Exchange')}\n"
    )

    # connected components (round 3): one star round's building blocks —
    # hash agg + key-equi joins only, no broadcast of data-derived frames
    from cloudtile_spark.operators.graph import _large_star, _small_star
    from pyspark.sql import functions as F

    edges = spark.range(0, 1000).select(
        F.col("id").alias("u"), ((F.col("id") * 7 + 3) % 997).alias("v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    s = plan_of(_small_star(_large_star(sym)))
    out.append(
        f"## connected-components star round (no-broadcast, threshold=-1)\n\n"
        f"- BroadcastExchange operators: **{s.count('BroadcastExchange')}**\n"
        f"- join strategies: "
        f"{sorted({w for w in s.split() if w.endswith('Join')})} "
        f"(min-per-node agg joined back on the node key — shuffle-only)\n"
        f"- HashAggregate: {s.count('HashAggregate')}\n"
        f"(each round re-plans from a localCheckpoint, so THIS is the "
        f"whole per-round plan — lineage does not grow with iterations)\n"
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # PQ-ANN (round 4): ADC over the persisted codes table — the join is
    # on (subspace, code) against the tiny codebook; no vector math in it
    s = plan_of(REGISTRY["ann_pq_topk"].spark_fn(spark, sf))
    out.append(
        f"## ann_pq_topk (PQ encode + ADC)\n\n"
        f"- join strategies: "
        f"{sorted({w for w in s.split() if w.endswith('Join')})} — the ADC "
        f"join keys are (subspace, code) vs the {16}-row codebook; the "
        f"codes table scans from the persisted stage (encode runs once)\n"
        f"- HashAggregate: {s.count('HashAggregate')} (per-(query, vec) "
        f"distance sum is a hash agg, map-side combinable)\n"
        f"- InMemoryTableScan (staged codes reuse): "
        f"{s.count('InMemoryTableScan') + s.count('InMemoryRelation')}\n"
    )
    # codegen PIP (round 5): the refine as ONE unrolled JVM expression —
    # the plan must contain ZERO Python/Arrow operators (vs pip_poly_join's
    # MapInPandas refine; measured 3x faster and jitter-immune at sf0.1)
    s = plan_of(REGISTRY["pip_codegen_join"].spark_fn(spark, sf))
    py_ops = sum(s.count(m) for m in
                 ("MapInPandas", "ArrowEval", "BatchEval", "PythonUDF"))
    out.append(
        f"## pip_codegen_join (all-JVM unrolled ray-cast)\n\n"
        f"- Python/Arrow operators in the plan: **{py_ops}** (0 = refine "
        f"runs inside whole-stage codegen; no Python workers to wake)\n"
        f"- BroadcastExchange operators: {s.count('BroadcastExchange')} "
        f"(the flattened-ring zone table only; points stream)\n"
        f"- join strategies: "
        f"{sorted({w for w in s.split() if w.endswith('Join')})}\n"
    )

    # correlated subqueries (round 5): Catalyst must DECORRELATE — the
    # scalar/IN subqueries rewrite to aggregate+join; a surviving subquery
    # node would mean per-row re-execution (a disaster at 100 TB)
    for name in ("tpch_q17", "tpch_q2", "tpch_q20"):
        df = REGISTRY[name].spark_fn(spark, sf)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        phys = df._jdf.queryExecution().executedPlan().toString()
        subq = (opt.count("Subquery") + phys.count("Subquery")
                + phys.count("InSubquery"))
        s = plan_of(df)
        out.append(
            f"## {name} (correlated subquery decorrelation)\n\n"
            f"- Subquery nodes surviving in optimized+physical plans: "
            f"**{subq}** (0 = rewritten to aggregate+join, no per-row "
            f"re-execution)\n"
            f"- join strategies after rewrite: "
            f"{sorted({w for w in s.split() if w.endswith('Join')})}\n"
            f"- HashAggregate: {s.count('HashAggregate')}\n"
        )

    # polygon-general overlay (round 4): bbox broadcast prefilter, then a
    # map-side Arrow kernel — no shuffle until the final per-zone agg
    s = plan_of(REGISTRY["zone_overlap_area_poly"].spark_fn(spark, sf))
    out.append(
        f"## zone_overlap_area_poly (S-H convex clip overlay)\n\n"
        f"- BroadcastExchange operators: {s.count('BroadcastExchange')} "
        f"(the ~25-row zone table only)\n"
        f"- MapInPandas (clip kernel): {s.count('MapInPandas')} — rings "
        f"rebuilt from ids executor-side, no vertex shuffle\n"
        f"- Exchange (shuffle): {s.count('Exchange') - s.count('BroadcastExchange')} "
        f"(the final per-zone hash agg only)\n"
    )

    # round-5 widening pass: the new corpus-analytics / spatial / graph
    # shapes must all be equi-join + hash-agg + partitioned-window plans —
    # zero Python operators, zero cartesian/nested-loop joins anywhere
    for name, note in (
        ("text_tfidf_topk",
         "per-doc window + term-keyed join; n_docs is a once-executed "
         "scalar subquery"),
        ("geo_radius_pairs_join",
         "cell-keyed equi join after 3x3 probe explode; integer refine "
         "in codegen"),
        ("pareto_skyline",
         "phase-1 windows PARTITIONED by bucket (parallel); only the "
         "small-survivor phase-2 window is global"),
        ("graph_triangles",
         "orientation + wedge + closure as three equi joins"),
        ("trajectory_tile_length",
         "successor equi-join on doc_id+1 — no lag() window"),
        ("pyramid_version_diff",
         "one FULL OUTER equi-join on the tile key (the nested-loop "
         "joins counted below are the INTENDED 9-row literal zoom-list "
         "fan-out broadcasts, same as every pyramid plan — not "
         "data-x-data cartesians)"),
        ("events_funnel_conversion",
         "three filtered min-aggs chained by user-keyed equi-joins; "
         "no windows, no per-user sort"),
        ("text_bigram_topk",
         "successor self-join on (doc_id, pos+1); top-20 plans as "
         "TakeOrderedAndProject, not a full sort"),
    ):
        s = plan_of(REGISTRY[name].spark_fn(spark, sf))
        pyops = (s.count("MapInPandas") + s.count("ArrowEvalPython")
                 + s.count("BatchEvalPython"))
        bad = s.count("CartesianProduct") + s.count("BroadcastNestedLoop")
        out.append(
            f"## {name} (round-5 widening)\n\n"
            f"- {note}\n"
            f"- Python operators: **{pyops}**; cartesian/nested-loop "
            f"joins: **{bad}**\n"
            f"- join strategies: "
            f"{sorted({w for w in s.split() if w.endswith('Join')})}; "
            f"HashAggregate: {s.count('HashAggregate')}; "
            f"Window: {s.count('Window')}\n"
        )

    # bucketing: two tables bucketed on the cell key join WITHOUT a shuffle
    # (the co-located-join strategy for repeated tile/cell joins at 100 TB)
    from cloudtile_spark import cells

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql("DROP TABLE IF EXISTS b_left")
    spark.sql("DROP TABLE IF EXISTS b_right")
    g = docs_geo(spark, sf).selectExpr(
        "doc_id", f"{cells.cell_sql('lon', 'lat', 7)} AS cell")
    g.write.bucketBy(8, "cell").sortBy("cell").mode("overwrite") \
        .saveAsTable("b_left")
    g.selectExpr("doc_id AS other_id", "cell").write \
        .bucketBy(8, "cell").sortBy("cell").mode("overwrite") \
        .saveAsTable("b_right")
    joined = spark.table("b_left").join(spark.table("b_right"), "cell")
    s = plan_of(joined)
    n_shuffle = s.count("Exchange") - s.count("BroadcastExchange")
    bucketed = s.count("Bucketed: true")
    out.append(
        f"## bucketed cell join (co-location)\n\n"
        f"- both sides bucketed by `cell` (8 buckets), broadcast disabled: "
        f"shuffle Exchange operators in the join plan: **{n_shuffle}** "
        f"(0 = shuffle-free co-located SortMergeJoin; an unbucketed "
        f"equi-join shows 2); bucketed scans: {bucketed}/2\n"
    )
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    # partition pruning: a hive-partitioned layout (partitionBy on write)
    # must turn an equality filter into a PartitionFilter — the scan reads
    # ONE directory, not the table (the data-skipping story at 100 TB,
    # where event_type/date partitioning keeps a query off 99% of files)
    import tempfile

    pdir = tempfile.mkdtemp(prefix="audit_part_")
    spark.read.parquet(f"{sf}/events.parquet").write \
        .partitionBy("event_type").mode("overwrite").parquet(pdir)
    q = (spark.read.parquet(pdir)
         .where(F.col("event_type") == "purchase")
         .groupBy().agg(F.count(F.lit(1))))
    s = plan_of(q)
    part_lines = [ln.strip() for ln in s.splitlines()
                  if "PartitionFilters" in ln]
    out.append(
        "## partition pruning (hive-layout data skipping)\n\n"
        + "".join(f"- `{ln[:160]}`\n" for ln in part_lines)
        + "- the event_type equality never appears as a row-level filter: "
        "pruning happens at file listing, before any IO\n"
    )

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
