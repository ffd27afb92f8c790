"""Funnel analysis: greedy-earliest chain semantics on hand fixtures
(order enforcement, same-timestamp progress, whole-funnel window),
parity with an independent Python recompute on the real events table,
report arithmetic, and the no-join/no-window plan shape."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_pipeline_project_using_telegram_and_aws_spark.operators.funnel import (
    funnel,
    funnel_report,
)
from data_pipeline_project_using_telegram_and_aws_spark.sources.tables import load_table


def _ts(s):
    return datetime.fromisoformat(s)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )


STEPS = ["view", "click", "purchase"]


def test_funnel_semantics(spark):
    rows = [
        # u1 converts fully, in order
        (1, "view", _ts("2024-01-01 10:00:00")),
        (1, "click", _ts("2024-01-01 10:05:00")),
        (1, "purchase", _ts("2024-01-01 10:30:00")),
        # u2: click BEFORE view — the early click must not count
        (2, "click", _ts("2024-01-01 09:00:00")),
        (2, "view", _ts("2024-01-01 10:00:00")),
        # u3: view then same-timestamp click (>= counts), no purchase
        (3, "view", _ts("2024-01-01 10:00:00")),
        (3, "click", _ts("2024-01-01 10:00:00")),
        # u4: never does step 1 → no row at all
        (4, "purchase", _ts("2024-01-01 10:00:00")),
        # noise types are ignored
        (1, "error", _ts("2024-01-01 10:01:00")),
    ]
    out = {
        r["user_id"]: (r["steps_completed"], r["step_ts"])
        for r in funnel(_events(spark, rows), STEPS).collect()
    }
    assert out[1][0] == 3
    assert out[2][0] == 1  # the pre-view click never matches
    assert out[3][0] == 2  # same-ts progress
    assert 4 not in out
    assert out[1][1] == [
        _ts("2024-01-01 10:00:00"),
        _ts("2024-01-01 10:05:00"),
        _ts("2024-01-01 10:30:00"),
    ]


def test_funnel_window_bounds_whole_funnel(spark):
    rows = [
        (1, "view", _ts("2024-01-01 10:00:00")),
        (1, "click", _ts("2024-01-01 10:10:00")),
        (1, "purchase", _ts("2024-01-01 12:00:00")),  # outside 1 h
    ]
    out = funnel(
        _events(spark, rows), STEPS, within_seconds=3600
    ).collect()[0]
    assert out["steps_completed"] == 2
    unbounded = funnel(_events(spark, rows), STEPS).collect()[0]
    assert unbounded["steps_completed"] == 3


def test_funnel_matches_python_on_real_events(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_type", "ts"
    )
    got = {
        r["user_id"]: r["steps_completed"]
        for r in funnel(ev, STEPS).collect()
    }
    rows = [
        (r["user_id"], r["event_type"], r["ts"]) for r in ev.collect()
    ]
    by_user: dict = {}
    for u, t, ts in rows:
        if t in STEPS:
            by_user.setdefault(u, []).append((ts, STEPS.index(t)))
    for u, es in by_user.items():
        want = 0
        for ts, step in sorted(es):
            if step == want:
                want += 1
        if want > 0:
            assert got.get(u) == want, (u, got.get(u), want)
        else:
            assert u not in got


def test_funnel_report_and_validation(spark):
    rows = [
        (1, "view", _ts("2024-01-01 10:00:00")),
        (1, "click", _ts("2024-01-01 10:05:00")),
        (1, "purchase", _ts("2024-01-01 10:06:00")),
        (2, "view", _ts("2024-01-01 10:00:00")),
        (2, "click", _ts("2024-01-01 10:05:00")),
        (3, "view", _ts("2024-01-01 10:00:00")),
        (4, "view", _ts("2024-01-01 10:00:00")),
    ]
    rep = {
        r["step"]: r for r in funnel_report(_events(spark, rows), STEPS).collect()
    }
    assert rep[1]["n_users"] == 4 and rep[1]["conversion_from_start"] == 1.0
    assert rep[2]["n_users"] == 2 and rep[2]["conversion_from_prev"] == 0.5
    assert rep[3]["n_users"] == 1 and rep[3]["conversion_from_prev"] == 0.5
    assert rep[3]["conversion_from_start"] == 0.25
    # plan: one aggregation, no joins, no Python; the ONLY window is
    # the bounded-operand guard, and it must not add a second exchange
    # (the guard's partitioning key = the groupBy key)
    plan = (
        funnel(_events(spark, rows), STEPS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Python" not in plan
    assert plan.count("+- Window") == 1  # the guard, nothing else
    assert plan.count("Exchange") == 1  # guard + groupBy share one
    with pytest.raises(ValueError, match="at least 2"):
        funnel(_events(spark, rows), ["view"])
    with pytest.raises(ValueError, match="distinct"):
        funnel(_events(spark, rows), ["view", "view"])


def test_funnel_hot_user_guard_fires(spark):
    """A user whose funnel-event count exceeds max_events_per_user must
    fail LOUDLY in-plan (the collect_list would otherwise funnel one
    giant array through one task) — and quiet users pass unharmed."""
    rows = [
        (1, "view", _ts(f"2024-01-01 10:00:0{i}")) for i in range(5)
    ] + [
        (2, "view", _ts("2024-01-01 10:00:00")),
        (2, "click", _ts("2024-01-01 10:01:00")),
    ]
    with pytest.raises(Exception, match="max_events_per_user"):
        funnel(
            _events(spark, rows), STEPS, max_events_per_user=3
        ).collect()
    ok = {
        r["user_id"]: r["steps_completed"]
        for r in funnel(
            _events(spark, rows), STEPS, max_events_per_user=5
        ).collect()
    }
    assert ok == {1: 1, 2: 2}


def test_funnel_step_window_vs_whole_window(spark):
    """The fixture where the two window dials disagree: edges of 40 and
    30 minutes, total 70. A 1 h WHOLE-funnel window cuts the purchase
    (70 > 60 from step 1); a 1 h PER-EDGE window admits it (both edges
    <= 60); a 30-minute per-edge window cuts the click itself."""
    rows = [
        (1, "view", _ts("2024-01-01 10:00:00")),
        (1, "click", _ts("2024-01-01 10:40:00")),
        (1, "purchase", _ts("2024-01-01 11:10:00")),
    ]
    ev = _events(spark, rows)

    def got(**kw):
        return funnel(ev, STEPS, **kw).collect()[0]["steps_completed"]

    assert got(within_seconds=3600) == 2
    assert got(step_within_seconds=3600) == 3
    assert got(step_within_seconds=1800) == 1
    # the dials AND together: whole-window passes, per-edge cuts
    assert got(within_seconds=7200, step_within_seconds=1800) == 1
    # greedy, no backtracking: a later view@10:50 would make the
    # 30-minute-edge funnel convert, but the first view anchors
    rows2 = rows + [(1, "view", _ts("2024-01-01 10:50:00"))]
    assert (
        funnel(
            _events(spark, rows2), STEPS, step_within_seconds=1800
        ).collect()[0]["steps_completed"]
        == 1
    )


from hypothesis import HealthCheck, given, settings, strategies as st

_fz_events = st.lists(
    st.tuples(
        st.integers(0, 2),                       # user
        st.sampled_from(["s0", "s1", "s2", "x"]),  # type (x = noise)
        st.integers(0, 20),                      # ts offset seconds
    ),
    min_size=1,
    max_size=18,
)


@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
@given(
    _fz_events,
    st.sampled_from([None, 4, 9]),   # within_seconds
    st.sampled_from([None, 3, 7]),   # step_within_seconds
)
def test_funnel_matches_python_fold(spark, events, within, step_within):
    """Differential model check: the in-plan aggregate fold (greedy
    first-match over time-sorted events, whole-funnel AND per-edge
    windows ANDed) must equal a straightforward Python replay of the
    same rule on random event streams — including ties on ts (both
    sides order by (ts, step)), noise events, and users who never
    start."""
    import datetime

    steps = ["s0", "s1", "s2"]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, t, base + datetime.timedelta(seconds=s))
        for u, t, s in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    got = {
        r["user_id"]: (
            r["steps_completed"],
            [ts.replace(tzinfo=None) for ts in r["step_ts"]],
        )
        for r in funnel(
            df,
            steps,
            within_seconds=within,
            step_within_seconds=step_within,
        ).collect()
    }

    want = {}
    idx = {s: i for i, s in enumerate(steps)}
    for u in {u for u, _, _ in events}:
        evs = sorted(
            (base + datetime.timedelta(seconds=s), idx[t])
            for uu, t, s in events
            if uu == u and t in idx
        )
        wantstep, hits = 0, []
        for ts, stp in evs:
            if wantstep >= len(steps) or stp != wantstep:
                continue
            if (
                within is not None
                and hits
                and (ts - hits[0]).total_seconds() > within
            ):
                continue
            if (
                step_within is not None
                and hits
                and (ts - hits[-1]).total_seconds() > step_within
            ):
                continue
            hits.append(ts)
            wantstep += 1
        if hits:
            want[u] = (wantstep, hits)
    assert got == want, (events, within, step_within)
