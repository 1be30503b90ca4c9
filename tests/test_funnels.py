"""Funnel and cohort-retention semantics on hand-built event histories
(the driver corpus is dense — every user completes everything — so the
ordering/null edge cases live here)."""

import pytest

import datetime

from openmsistream_spark.operators.funnels import cohort_retention, funnel_steps

T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)  # a Monday


def _ts(days=0, hours=0):
    return T0 + datetime.timedelta(days=days, hours=hours)


SCHEMA = "user_id long, ts timestamp, event_type string"


def test_funnel_strict_ordering(spark):
    events = [
        # user 1: full ordered funnel
        (1, _ts(0), "view"), (1, _ts(1), "click"), (1, _ts(2), "purchase"),
        # user 2: clicked BEFORE ever viewing -> click must not count;
        # a later click does
        (2, _ts(0), "click"), (2, _ts(1), "view"), (2, _ts(2), "click"),
        # user 3: view only
        (3, _ts(0), "view"),
        # user 4: purchase before click -> depth stops at click
        (4, _ts(0), "view"), (4, _ts(1), "purchase"), (4, _ts(2), "click"),
        # user 5: never viewed -> absent entirely
        (5, _ts(0), "click"), (5, _ts(1), "purchase"),
    ]
    sdf = spark.createDataFrame(events, SCHEMA)
    rows = {
        r.user_id: r for r in funnel_steps(sdf, ["view", "click", "purchase"]).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].depth == 3 and rows[1].ts_purchase == _ts(2)
    assert rows[2].depth == 2 and rows[2].ts_click == _ts(2)  # pre-view click skipped
    assert rows[3].depth == 1 and rows[3].ts_click is None
    assert rows[4].depth == 2 and rows[4].ts_purchase is None  # purchase pre-click
    # first-event semantics: user 1's view ts is the minimum view
    assert rows[1].ts_view == _ts(0)


def test_funnel_single_step_and_empty_steps(spark):
    import pytest

    sdf = spark.createDataFrame([(1, _ts(0), "view")], SCHEMA)
    rows = funnel_steps(sdf, ["view"]).collect()
    assert len(rows) == 1 and rows[0].depth == 1
    with pytest.raises(ValueError):
        funnel_steps(sdf, [])


def test_cohort_retention_matrix(spark):
    events = [
        # cohort week 0: users 1, 2. user 1 active weeks 0,1,2; user 2 week 0 only
        (1, _ts(0), "view"), (1, _ts(7), "view"), (1, _ts(14), "view"),
        (2, _ts(1), "view"),
        # cohort week 1: user 3, active weeks 1 and 2
        (3, _ts(8), "view"), (3, _ts(15), "view"),
    ]
    sdf = spark.createDataFrame(events, SCHEMA)
    got = {
        (r.cohort_week, r.week_offset): (r.n_active, r.n_cohort, r.retention)
        for r in cohort_retention(sdf).collect()
    }
    w0, w1 = _ts(0), _ts(7)
    assert got[(w0, 0)] == (2, 2, 1.0)
    assert got[(w0, 1)] == (1, 2, 0.5)
    assert got[(w0, 2)] == (1, 2, 0.5)
    assert got[(w1, 0)] == (1, 1, 1.0)
    assert got[(w1, 1)] == (1, 1, 1.0)
    assert len(got) == 5


def test_funnel_conversion_window(spark):
    """within_seconds bounds every later step against the user's
    step-1 time."""
    events = [
        (1, _ts(0), "view"), (1, _ts(0, 1), "click"), (1, _ts(0, 2), "purchase"),
        # user 2 clicks 3 days after viewing — outside a 1-day window
        (2, _ts(0), "view"), (2, _ts(3), "click"),
    ]
    sdf = spark.createDataFrame(events, SCHEMA)
    rows = {
        r.user_id: r
        for r in funnel_steps(
            sdf, ["view", "click", "purchase"], within_seconds=86400.0
        ).collect()
    }
    assert rows[1].depth == 3
    assert rows[2].depth == 1 and rows[2].ts_click is None
    # unconstrained: user 2's late click counts
    free = {
        r.user_id: r.depth
        for r in funnel_steps(sdf, ["view", "click", "purchase"]).collect()
    }
    assert free[2] == 2


def test_transition_counts_deterministic_pairs(spark):
    from openmsistream_spark.operators.funnels import transition_counts

    events = [
        (1, 10, _ts(0), "view"), (1, 11, _ts(1), "click"), (1, 12, _ts(2), "view"),
        (2, 20, _ts(0), "view"), (2, 21, _ts(1), "click"),
        # identical ts -> event_id breaks the tie (30 before 31)
        (3, 30, _ts(0), "view"), (3, 31, _ts(0), "click"),
    ]
    sdf = spark.createDataFrame(
        events, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {
        (r.from_type, r.to_type): r.n_transitions
        for r in transition_counts(sdf).collect()
    }
    assert got == {("view", "click"): 3, ("click", "view"): 1}


# --- property-based parity with driver-side references ----------------

from hypothesis import given, settings
from hypothesis import strategies as st

_TYPES = ["view", "click", "purchase"]
_event = st.tuples(
    st.integers(min_value=1, max_value=4),       # user
    st.integers(min_value=0, max_value=500),     # minutes offset (ties allowed)
    st.sampled_from(_TYPES),
)
_stream = st.lists(_event, min_size=1, max_size=30)


def _ref_funnel(events, steps):
    """Strict-ordering reference: first step-1 ts, then first step-k
    event strictly after step-(k-1)'s pick."""
    by_user = {}
    for u, m, t in events:
        by_user.setdefault(u, []).append((m, t))
    out = {}
    for u, evs in by_user.items():
        s1 = [m for m, t in evs if t == steps[0]]
        if not s1:
            continue
        picks = [min(s1)]
        for step in steps[1:]:
            later = [m for m, t in evs if t == step and m > picks[-1]]
            if not later:
                break
            picks.append(min(later))
        out[u] = picks
    return out


@given(events=_stream)
@settings(max_examples=20, deadline=None)
def test_funnel_property_matches_reference(spark, events):
    rows = [
        (u, _ts(0, 0) + datetime.timedelta(minutes=m), t) for u, m, t in events
    ]
    sdf = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.user_id: [
            x for x in (r.ts_view, r.ts_click, r.ts_purchase) if x is not None
        ]
        for r in funnel_steps(sdf, ["view", "click", "purchase"]).collect()
    }
    ref = {
        u: [_ts(0, 0) + datetime.timedelta(minutes=m) for m in picks]
        for u, picks in _ref_funnel(events, ["view", "click", "purchase"]).items()
    }
    assert got == ref
