"""as-of join (operators/temporal.py): semantics + partition invariance."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cloudtile_spark.operators.temporal import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _frames(spark):
    # right: state rows (user, ts, id, val); left: fact rows (user, ts, id)
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:00:00"), 10, 1.0),
            (1, _ts("2024-01-01T00:10:00"), 11, 2.0),
            # two right rows at the SAME instant: tiebreak (larger id) wins
            (1, _ts("2024-01-01T00:10:00"), 12, 3.0),
            (2, _ts("2024-01-01T05:00:00"), 20, 9.0),
        ],
        "user_id long, ts timestamp, event_id long, value double",
    )
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T00:05:00"), 100),  # -> 10
            (1, _ts("2024-01-01T00:10:00"), 101),  # equal ts inclusive -> 12
            (1, _ts("2024-01-01T02:00:00"), 102),  # -> 12 (latest)
            (2, _ts("2024-01-01T00:00:00"), 200),  # nothing prior -> NULL
            (3, _ts("2024-01-01T00:00:00"), 300),  # key absent -> NULL
        ],
        "user_id long, ts timestamp, event_id long",
    )
    return left, right


def _collect(out):
    rows = out.select("event_id", "event_id_r").collect()
    return {r["event_id"]: r["event_id_r"] for r in rows}


def test_asof_backward_semantics(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("event_id", "value"), tiebreak="event_id")
    assert _collect(out) == {100: 10, 101: 12, 102: 12, 200: None, 300: None}
    # matched timestamp surfaces as epoch micros of the right row
    r101 = {r["event_id"]: r["ts_r"] for r in out.collect()}
    assert r101[101] == int(_ts("2024-01-01T00:10:00")
                            .replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def test_asof_forward_semantics(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("event_id",), tiebreak="event_id",
                    direction="forward")
    # forward = nearest right row at-or-after; tie at equal ts -> the
    # LARGEST tiebreak wins, same contract as backward (only the time
    # axis is negated, the tiebreak stays unsigned).
    assert _collect(out) == {100: 12, 101: 12, 102: None, 200: 20, 300: None}


def test_asof_null_payload_supersedes(spark):
    """A later right row with a NULL payload must supersede an earlier
    non-NULL one, and all carried columns must come from the SAME right
    row (struct-carry regression: per-column last(ignorenulls) used to
    mix ts_r from one row with value_r from another)."""
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:01:00"), 5.0, "a"),
         (1, _ts("2024-01-01T00:02:00"), None, None)],
        "user_id long, ts timestamp, value double, tag string",
    )
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:03:00"), 100)],
        "user_id long, ts timestamp, event_id long",
    )
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("value", "tag"))
    row = out.collect()[0]
    us = int(_ts("2024-01-01T00:02:00")
             .replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert row["ts_r"] == us          # matched the t=2 row...
    assert row["value_r"] is None     # ...and carried ITS null payload
    assert row["tag_r"] is None


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("event_id",), tiebreak="event_id",
                    tolerance_us=30 * 60 * 1_000_000)  # 30 min
    # 102 is 110 min after right row 12 -> NULLed by tolerance
    assert _collect(out) == {100: 10, 101: 12, 102: None, 200: None, 300: None}


def test_asof_partition_invariance(spark):
    left, right = _frames(spark)
    base = asof_join(left, right, on="ts", by="user_id",
                     right_cols=("event_id",), tiebreak="event_id")
    shuffled = asof_join(left.repartition(7), right.repartition(5),
                         on="ts", by="user_id",
                         right_cols=("event_id",), tiebreak="event_id")
    assert _collect(base) == _collect(shuffled)


def test_asof_plan_has_no_broadcast(spark):
    left, right = _frames(spark)
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("event_id",), tiebreak="event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    # exactly the union+window shape: one Window, no SortMergeJoin
    assert "Window" in plan and "SortMergeJoin" not in plan


def test_asof_matches_pandas_merge_asof(spark):
    """Independent reference: pandas merge_asof (backward, exact matches
    allowed) on randomized inputs with unique right timestamps per key."""
    import random

    import pandas as pd

    rng = random.Random(13)
    base = 1_700_000_000_000_000
    rights, seen = [], set()
    for i in range(400):
        key = rng.randrange(8)
        t = base + rng.randrange(10_000) * 1_000_000
        if (key, t) in seen:  # unique right ts per key -> no tie ambiguity
            continue
        seen.add((key, t))
        rights.append((key, dt.datetime.utcfromtimestamp(t / 1e6), i, float(i)))
    lefts = [(rng.randrange(10), dt.datetime.utcfromtimestamp(
        (base + rng.randrange(10_000) * 1_000_000) / 1e6), 1000 + j)
        for j in range(300)]

    right = spark.createDataFrame(
        rights, "user_id long, ts timestamp, event_id long, value double")
    left = spark.createDataFrame(
        lefts, "user_id long, ts timestamp, event_id long")
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("event_id",), tiebreak="event_id")
    got = {r["event_id"]: r["event_id_r"] for r in out.collect()}

    lp = pd.DataFrame(lefts, columns=["user_id", "ts", "event_id"]) \
        .sort_values("ts").reset_index(drop=True)
    rp = pd.DataFrame(rights,
                      columns=["user_id", "ts", "r_event_id", "value"]) \
        .sort_values("ts").reset_index(drop=True)
    m = pd.merge_asof(lp, rp, on="ts", by="user_id", direction="backward")
    expect = {int(r.event_id): (None if pd.isna(r.r_event_id)
                                else int(r.r_event_id))
              for r in m.itertuples()}
    assert got == expect


def test_asof_forward_with_tolerance(spark):
    """Tolerance must measure the FORWARD gap (match at-or-after the left
    row) when direction='forward' — the sign-flip branch of the gap
    computation."""
    left, right = _frames(spark)
    out = asof_join(left, right, on="ts", by="user_id",
                    right_cols=("event_id",), tiebreak="event_id",
                    direction="forward",
                    tolerance_us=6 * 60 * 1_000_000)  # 6 min
    # 100 at 00:05 -> nearest-after is 00:10 (5 min, within) -> 12;
    # 200 at 00:00 -> nearest-after is 05:00 (5 h, out) -> NULL
    assert _collect(out) == {100: 12, 101: 12, 102: None,
                             200: None, 300: None}


_BASE = dt.datetime(2024, 1, 1)
_BASE_US = int(_BASE.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def _at(s):
    return None if s is None else _BASE + dt.timedelta(seconds=s)


# case -> (left (k, t, id), right (k, t, v), tiebreak, checked column,
#          want backward, want forward); want = sorted (id, value) pairs
_DEGENERATE = {
    "empty_left": ([], [(1, 0, 10)], None, "v_r", [], []),
    "empty_right": ([(1, 5, 1)], [], None, "v_r", [(1, None)], [(1, None)]),
    "one_row_each": ([(1, 5, 1)], [(1, 3, 10)], None, "v_r",
                     [(1, 10)], [(1, None)]),
    "dup_right_ts_tiebreak": (
        [(1, 5, 1)], [(1, 5, 10), (1, 5, 12), (1, 5, 11)], "v", "v_r",
        [(1, 12)], [(1, 12)]),
    "dup_right_ts_no_tiebreak": (
        [(1, 5, 1)], [(1, 5, 10), (1, 5, 12), (1, 5, 11)], None, "ts_r",
        [(1, 5)], [(1, 5)]),
    "dup_left_rows": ([(1, 5, 1), (1, 5, 1)], [(1, 3, 10), (1, 7, 20)],
                      None, "v_r", [(1, 10), (1, 10)], [(1, 20), (1, 20)]),
    "null_on_right": ([(1, 5, 1)], [(1, None, 10)], None, "v_r",
                      [(1, None)], [(1, None)]),
    "null_on_left": ([(1, None, 1), (1, 5, 2)], [(1, 3, 10), (1, 7, 20)],
                     None, "v_r", [(1, None), (2, 10)], [(1, None), (2, 20)]),
    "null_by_key": (
        [(None, 5, 1), (1, 5, 2)],
        [(None, 3, 10), (None, 7, 11), (1, 3, 20), (1, 7, 21)], None, "v_r",
        [(1, None), (2, 20)], [(1, None), (2, 21)]),
}


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("case", sorted(_DEGENERATE))
def test_temporal_degenerate_inputs(spark, case, direction):
    """The as-of join on degenerate input, both directions: an empty side,
    one row each, duplicate right timestamps with and without a
    tiebreak, duplicate left rows, and a NULL time or key on either
    side. A NULL matches nothing, as in DuckDB's ASOF LEFT JOIN."""
    lrows, rrows, tiebreak, col, back, fwd = _DEGENERATE[case]
    left = spark.createDataFrame([(k, _at(t), i) for k, t, i in lrows],
                                 "k long, ts timestamp, id long")
    right = spark.createDataFrame([(k, _at(t), v) for k, t, v in rrows],
                                  "k long, ts timestamp, v long")
    out = asof_join(left, right, on="ts", by="k", right_cols=("v",),
                    tiebreak=tiebreak, direction=direction)
    got = [(r.id, r[col]) for r in out.collect()]
    if col == "ts_r":
        got = [(i, None if t is None else (t - _BASE_US) // 1_000_000)
               for i, t in got]
    assert sorted(got, key=repr) == (back if direction == "backward" else fwd)
