"""Session-scoped persist lifecycle for staged pipelines.

Staged queries materialize expensive intermediate frames (dedup/ANN
self-join stages, the adaptive-kNN count tables, the coalesce density
table) so a multi-consumer plan reads the stage once instead of
recomputing it per reference. But a long-lived session (the driver's
correctness gate, bench REPEATS) runs MANY such queries back to back:
stages that are never released accumulate in executor storage memory,
evict each other, and skew later legs (round-2 bench showed 2-3x
regressions on legs that ran after the heavy cached ones, plus `Asked to
cache already cached data` warnings).

Two staging mechanisms, chosen by how the stage is CONSUMED:

* :func:`stage` — ``df.persist()``. Correct for consumers that reference
  the returned DataFrame OBJECT (DataFrame-API pipelines): Catalyst's
  cache substitution matches the plan subtree and swaps in the
  InMemoryRelation.
* :func:`stage_view` — ``df.localCheckpoint(eager=True)`` registered
  under a unique per-invocation temp-view name, so each call runs one
  Spark job when it is made, while the plan is still being built (the
  eager form is deliberate; see the function). Consumers are SQL texts,
  and nearly all of them open with a ``WITH`` clause — and a measured
  Spark 4.x behavior (round-6 finding) is that ANY ``WITH`` in the
  consumer query defeats InMemoryRelation substitution for view
  references (CTE resolution wraps the plan before the cache lookup
  runs, and CTEs are only inlined later, in the optimizer). A persisted
  view referenced from CTE SQL therefore silently RECOMPUTES its whole
  upstream on every reference — the round-5 minhash leg paid the
  shingle+signature pass ~5x per invocation because of exactly this. A
  localCheckpoint-backed view is immune: the view's stored plan IS the
  materialized RDD scan, so every reference — CTE or not — reads the
  computed rows. (Trade-off: a localCheckpoint is not fault-tolerant to
  executor loss; on a cluster, swap for checkpoint() against a reliable
  dir. Stage lifetimes here are a single query invocation.)

* :func:`release_staged` unpersists/frees everything recorded, dropping
  checkpoint temp views and their cached RDD blocks explicitly — the
  view registry would otherwise pin every invocation's RDD blocks for
  the session lifetime (the names are uniquified per invocation).

EXECUTION CONTRACT — SERIAL, one query at a time per session
------------------------------------------------------------
Registry queries are wrapped (queries.Query) to call ``release_staged()``
on ENTRY, so each query starts with a clean slate while its OWN staged
frames live until the next query begins — long enough for the caller to
materialize the returned DataFrame. This assumes queries run serially
within a SparkSession: invoking query B's spark_fn releases query A's
staged frames, so a caller that materializes A's result AFTER invoking B
recomputes A's stages from scratch (correct, just slower — staging is an
optimization, never a correctness dependency). Concurrent spark_fn
invocations from multiple threads are NOT supported by this lifecycle;
run each concurrent stream in its own process/session. Callers that want
immediate cleanup (bench legs) call :func:`release_staged` themselves
after collecting.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame

# entries: ("persist", df) | ("checkpoint", ck_df, view_name)
_STAGED: list[tuple] = []
_SEQ = itertools.count()


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df``, recording it for a later :func:`release_staged`.
    Use when the consumer references the returned DataFrame object;
    prefer :func:`stage_view` when the stage is consumed by SQL text —
    see the module docstring for why (CTE consumers miss the persist
    cache)."""
    df.persist()
    _STAGED.append(("persist", df))
    return df


def stage_view(df: DataFrame, base: str) -> str:
    """Materialize ``df`` as a localCheckpoint-backed temp view under a
    unique per-invocation name derived from ``base``; returns the actual
    name. Unique names mean a re-invocation (or an interleaved second
    query) can never silently rebind a view another plan still
    references; checkpoint backing means CTE consumers actually reuse
    the computed rows (persist-backed views do not — module docstring)."""
    name = f"{base}_{next(_SEQ)}"
    # eager: a lazily-marked checkpoint gets computed CONCURRENTLY (and
    # therefore twice) when the consumer's first job scans it from two
    # map stages at once — e.g. the ANN bucket self-join; measured +1.4s
    # on ann_lsh_topk with eager=False vs eager=True
    ck = df.localCheckpoint(eager=True)
    ck.createOrReplaceTempView(name)
    _STAGED.append(("checkpoint", ck, name))
    return name


def _free_checkpoint(ck: DataFrame, name: str) -> None:
    spark = ck.sparkSession
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    try:
        # the analyzed plan of a localCheckpointed Dataset is a LogicalRDD
        # holding the cached internal RDD — unpersist frees its blocks
        ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # session stopped / plan shape changed — nothing to free


def release_staged() -> int:
    """Release every staged frame recorded since the last release.
    Returns the number released. Safe to call with a stopped session."""
    n = len(_STAGED)
    while _STAGED:
        entry = _STAGED.pop()
        try:
            if entry[0] == "persist":
                entry[1].unpersist()
            else:
                _free_checkpoint(entry[1], entry[2])
        except Exception:
            pass  # session already stopped / frame GC'd — nothing to free
    return n
