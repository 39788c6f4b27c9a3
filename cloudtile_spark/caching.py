"""One staging rule: a stage lives while a plan reads it.

Staged queries materialize expensive intermediate frames (dedup/ANN
self-join stages, the adaptive-kNN query side and top-k, the coalesce
density table) so a multi-consumer plan reads the stage once instead of
recomputing it per reference. There are two kinds of stage, chosen by
how the stage is consumed, and one rule for both: nothing frees a stage
that a live plan still reads.

* Checkpoints: ``df.localCheckpoint(eager=True)``, for stages consumed
  by SQL text. A SQL consumer reads the checkpoint through PySpark's own
  ``spark.sql(text, name=frame)``, which registers a temporary view for
  the statement's analysis only and drops it afterwards, so no temp view
  outlives the statement that reads it. A local checkpoint has no
  lineage: its blocks are the only copy of its rows, so they are never
  freed by hand. Spark's ContextCleaner frees them once no plan
  references the checkpointed RDD and the JVM has collected it.
  Why not a persisted view: when both the stage's SQL and its consumer's
  SQL open with ``WITH``, the cache lookup misses and every reference
  recomputes the stage's whole upstream. Why eager: a lazily marked
  checkpoint is computed concurrently, and so twice, when the consumer's
  first job scans it from two map stages at once (the ANN bucket
  self-join: +1.4 s lazy against eager).
* Persists: :func:`stage`, for DataFrame-API consumers, whose plans
  reference the returned frame and get the cached relation substituted.
  Never hand one to ``spark.sql(text, name=frame)``: dropping that
  statement's view uncaches the plan it names. Every persist is
  recorded, and :func:`release_staged` unpersists what was recorded. A
  persisted frame keeps its lineage, so releasing it while a plan still
  reads it only costs a recompute: staging is an optimization, never a
  correctness dependency.

The registry entry (``queries._register``) calls :func:`release_staged`
once per query call, before the builder runs, so back-to-back queries in
one long-lived session (the correctness gate, bench repeats) do not
accumulate persisted relations in executor memory.
Releasing is safe at any time and from any session: a result built
before the release still collects the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_STAGED: list[DataFrame] = []


def stage(df: DataFrame) -> DataFrame:
    """Persist ``df``, recording it for a later :func:`release_staged`.
    For consumers that reference the returned DataFrame object; a stage
    consumed by SQL text is a checkpoint instead (module docstring)."""
    df.persist()
    _STAGED.append(df)
    return df


def release_staged() -> int:
    """Unpersist every frame staged since the last release. Returns the
    number released. Safe to call with a stopped session."""
    n = len(_STAGED)
    while _STAGED:
        try:
            _STAGED.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    return n
