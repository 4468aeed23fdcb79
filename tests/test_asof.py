"""As-of / range-join operator semantics (operators/asof.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ocds_entity_extract_spark.operators.asof import asof_join, range_join_binned


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts(10)),   # after first purchase
            (2, 10, _ts(12)),   # after second
            (3, 10, _ts(9)),    # before any purchase -> null
            (4, 10, _ts(11)),   # EXACTLY at a purchase ts -> inclusive
            (5, 20, _ts(10)),   # user with no purchases at all -> null
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts(9, 30), 5.0),
            (10, _ts(11), 7.0),
        ],
        "user_id long, ts timestamp, pvalue double",
    )
    return left, right


def test_asof_backward_inclusive_and_nulls(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["pvalue"], matched_ts_col="pts",
    )
    got = {r["event_id"]: (r["pvalue"], r["pts"]) for r in out.collect()}
    assert got[1] == (5.0, _ts(9, 30))
    assert got[2] == (7.0, _ts(11))
    assert got[3] == (None, None)
    assert got[4] == (7.0, _ts(11))      # tie is inclusive
    assert got[5] == (None, None)
    assert out.count() == left.count()   # left-join semantics


def test_asof_null_payload_of_matched_row_survives(spark):
    """A matched right row whose payload column is NULL must yield NULL —
    not resurrect an older row's value (the struct-carry fix; previously
    per-column last(ignorenulls) skipped the null field while
    matched_ts_col reported the newer match)."""
    left = spark.createDataFrame(
        [(1, 10, _ts(12))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(9), 5.0), (10, _ts(11), None)],
        "user_id long, ts timestamp, pvalue double",
    )
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["pvalue"], matched_ts_col="matched_ts",
    ).collect()[0]
    assert out["matched_ts"] == _ts(11)
    assert out["pvalue"] is None


def test_range_join_negative_timestamps_floor_bins(spark):
    """Pre-1970 (negative unix) timestamps must bin by FLOOR: a pair
    straddling bin 0 would be dropped under truncate-toward-zero."""
    left = spark.createDataFrame(
        [(1, 1, dt.datetime(1969, 12, 31, 23, 59, 30))],
        "lid long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(1969, 12, 31, 23, 59, 50), 1.0)],
        "k long, rts timestamp, v double",
    )
    got = range_join_binned(
        left, right, key="k", left_ts="ts", right_ts="rts",
        window_seconds=60,
    ).count()
    assert got == 1


def test_range_join_binned_matches_inequality_join(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts(10)), (2, 1, _ts(12, 30)), (3, 2, _ts(10))],
        "sid long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(10, 0, 1), 1.0),    # in window of sid=1
            (1, _ts(10, 59, 59), 2.0),  # in window (end-exclusive check below)
            (1, _ts(11, 0, 0), 3.0),    # exactly +1h -> EXCLUDED
            (1, _ts(12, 45), 4.0),      # in window of sid=2
            (2, _ts(9, 59, 59), 5.0),   # before -> excluded
            (2, _ts(10), 6.0),          # exactly at start -> INCLUDED
        ],
        "user_id long, cts timestamp, value double",
    )
    out = range_join_binned(
        left, right, key="user_id", left_ts="ts", right_ts="cts",
        window_seconds=3600,
    )
    got = sorted((r["sid"], r["value"]) for r in out.collect())
    assert got == [(1, 1.0), (1, 2.0), (2, 4.0), (3, 6.0)]

    # brute-force twin (inequality join) agrees
    brute = (
        left.alias("l")
        .join(right.alias("r"), "user_id")
        .filter(
            (F.col("r.cts") >= F.col("l.ts"))
            & (F.col("r.cts") < F.col("l.ts") + F.expr("INTERVAL 1 HOUR"))
        )
    )
    assert sorted((r["sid"], r["value"]) for r in brute.collect()) == got


def test_range_join_window_straddling_two_bins(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts(10, 17))], "sid long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(10, 40), 1.0), (1, _ts(11, 10), 2.0), (1, _ts(11, 20), 3.0)],
        "user_id long, cts timestamp, value double",
    )
    # window is [10:17, 11:17), across the 10:00 and 11:00 bins: 10:40 and
    # 11:10 in, 11:20 out (bins only pre-filter; the exact predicate decides)
    out = range_join_binned(
        left, right, key="user_id", left_ts="ts", right_ts="cts",
        window_seconds=3600,
    )
    assert sorted(r["value"] for r in out.collect()) == [1.0, 2.0]


# --- property-based: asof_join == brute-force correlated lookup ---------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.floats(0, 100)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_matches_bruteforce(spark, lefts, rights):
    """For ANY (key, ts) streams: asof payload == max-right-ts-at-or-before
    lookup computed brute-force in Python."""
    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, k, base + dt.timedelta(minutes=m)) for i, (k, m) in enumerate(lefts)],
        "event_id long, user_id long, ts timestamp",
    )
    # dedupe right to one row per (key, ts) — the operator's contract
    rdedup = {}
    for k, m, v in rights:
        rdedup[(k, m)] = max(v, rdedup.get((k, m), float("-inf")))
    right = spark.createDataFrame(
        [
            (k, base + dt.timedelta(minutes=m), v)
            for (k, m), v in sorted(rdedup.items())
        ],
        "user_id long, ts timestamp, pvalue double",
    ) if rdedup else spark.createDataFrame([], "user_id long, ts timestamp, pvalue double")

    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["pvalue"], matched_ts_col="pts",
    )
    got = {r["event_id"]: r["pvalue"] for r in out.collect()}

    want = {}
    for i, (k, m) in enumerate(lefts):
        cands = [(rm, v) for (rk, rm), v in rdedup.items() if rk == k and rm <= m]
        want[i] = max(cands)[1] if cands else None
    assert got == want


def test_plans_have_no_nested_loop(spark):
    """The whole point of both operators: neither ever plans a
    BroadcastNestedLoopJoin/CartesianProduct (what a raw inequality join
    would give), and asof pays exactly ONE exchange (the window)."""
    left, right = _frames(spark)
    asof_plan = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["pvalue"], matched_ts_col="pts",
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in asof_plan
    assert "CartesianProduct" not in asof_plan
    assert asof_plan.count("Exchange") == 1, asof_plan

    l2 = spark.createDataFrame(
        [(1, 1, _ts(10))], "sid long, user_id long, ts timestamp"
    )
    r2 = spark.createDataFrame(
        [(1, _ts(10, 30), 1.0)], "user_id long, cts timestamp, value double"
    )
    range_plan = range_join_binned(
        l2, r2, key="user_id", left_ts="ts", right_ts="cts", window_seconds=3600
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in range_plan
    assert "CartesianProduct" not in range_plan
