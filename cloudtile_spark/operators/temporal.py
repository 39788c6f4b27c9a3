"""Temporal joins: as-of (nearest-previous / nearest-next match).

The reference has no joins at all (single-input subprocess pipeline —
SURVEY.md §2.C); the as-of join is north-rule surface: the standard
event-enrichment shape ("attach the most recent prior state row to every
fact row") that a training-data/event pipeline hits constantly.

Scale design — the union+window formulation:
- Naive as-of is a pairwise inequality join (left × right per key) whose
  candidate set explodes on hot keys. Instead we UNION the two inputs,
  tagged, and run ONE window per key ordered by the time axis, carrying
  the last-seen right payload forward (`last(..., ignorenulls=True)`
  with ROWS UNBOUNDED PRECEDING).
- Cost: a single hash shuffle on the `by` key + an in-partition sort.
  No broadcast anywhere, no pairwise blow-up, both sides can be 100 TB.
  Skewed keys split by AQE; the window state is O(1) per row.
- Determinism at equal timestamps: right rows sort BEFORE left rows
  (inclusive backward match), and ties among right rows resolve by the
  `tiebreak` column so the carried payload is reproducible across
  partitionings.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | Sequence[str] = "user_id",
    right_cols: Sequence[str] = (),
    tiebreak: str | None = None,
    direction: str = "backward",
    tolerance_us: int | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Attach to every `left` row the `right` row with the greatest
    `on` <= left.`on` (direction="backward"; "forward" = smallest >=)
    within the same `by` group. Left rows with no match keep NULLs
    (left-outer semantics). A NULL `on` or `by` value matches nothing.

    `on` must be a TimestampType column in both inputs. `right_cols` are
    the right-side payload columns to carry (emitted as `<col><suffix>`);
    the matched right timestamp is always emitted as `<on><suffix>` in
    epoch microseconds BIGINT (engine-stable). `tiebreak` orders right
    rows sharing an `on` value (largest wins, in BOTH directions); must
    exist in `right`. `tolerance_us` NULLs out matches further than that
    many microseconds from the left row.

    All carried columns come from the SAME matched right row: the window
    carries one struct built only on right rows, so a right row whose
    payload value is genuinely NULL still supersedes an earlier non-NULL
    one (the struct is non-NULL even when its fields are NULL).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    by_keys = [by] if isinstance(by, str) else list(by)
    # a right row with no time or a NULL key matches no left row, as in
    # an ASOF LEFT JOIN; left rows keep theirs and match nothing
    right = right.dropna(subset=[on, *by_keys])
    left_payload = [c for c in left.columns if c not in by_keys]

    # parquet event times are TIMESTAMP_NTZ; unix_micros wants TIMESTAMP.
    # The session runs UTC, so the cast is value-preserving (same convention
    # as unix_timestamp elsewhere in the registry).
    t_us = F.unix_micros(F.col(on).cast("timestamp"))
    # backward: ascending time, right(_src=0) before left(1) at equal times
    # so the inclusive match is visible to last(). forward: negate the sort
    # keys instead of flipping every ordering clause.
    sign = 1 if direction == "backward" else -1
    tb = (F.col(tiebreak) if tiebreak is not None else F.lit(0)).cast("long")

    r = right.select(
        *[F.col(k) for k in by_keys],
        (t_us * sign).alias("_t"),
        F.lit(0).alias("_src"),
        # _tb stays UNSIGNED: only the time axis flips for direction=
        # "forward", so "largest tiebreak wins" holds in both directions.
        tb.alias("_tb"),
        t_us.alias("_match_t"),
        *[F.col(c).alias(f"_p_{c}") for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in left_payload],
    )
    l = left.select(
        *[F.col(k) for k in by_keys],
        (t_us * sign).alias("_t"),
        F.lit(1).alias("_src"),
        F.lit(0).cast("long").alias("_tb"),
        F.lit(None).cast("long").alias("_match_t"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_p_{c}")
          for c in right_cols],
        *[F.col(c).alias(f"_l_{c}") for c in left_payload],
    )

    u = r.unionByName(l)
    w = (Window.partitionBy(*by_keys)
         .orderBy(F.col("_t").asc(), F.col("_src").asc(), F.col("_tb").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # One struct carried per right row (NULL on left rows so ignorenulls
    # skips them) — every projected field comes from the same right row.
    state = F.when(F.col("_src") == 0, F.struct(
        F.col("_match_t").alias("_match_t"),
        *[F.col(f"_p_{c}").alias(c) for c in right_cols],
    ))
    u = u.select(
        *by_keys, "_t", "_src",
        F.last(state, ignorenulls=True).over(w).alias("_st"),
        *[f"_l_{c}" for c in left_payload],
    ).where(F.col("_src") == 1)
    u = u.select(
        *by_keys, "_t", "_src",
        F.col("_st._match_t").alias(f"{on}{suffix}"),
        *[F.col(f"_st.{c}").alias(f"{c}{suffix}") for c in right_cols],
        *[f"_l_{c}" for c in left_payload],
    )

    if tolerance_us is not None:
        gap = (F.col("_t") * sign - F.col(f"{on}{suffix}") if sign == 1
               else F.col(f"{on}{suffix}") - F.col("_t") * sign)
        in_tol = gap <= F.lit(int(tolerance_us))
        u = u.select(
            *by_keys, "_t", "_src",
            F.when(in_tol, F.col(f"{on}{suffix}")).alias(f"{on}{suffix}"),
            *[F.when(in_tol, F.col(f"{c}{suffix}")).alias(f"{c}{suffix}")
              for c in right_cols],
            *[f"_l_{c}" for c in left_payload],
        )

    return u.select(
        *by_keys, f"{on}{suffix}",
        *[f"{c}{suffix}" for c in right_cols],
        *[F.col(f"_l_{c}").alias(c) for c in left_payload],
    )
