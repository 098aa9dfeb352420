"""Property tests for nearest-selection (J3/J4) — the invariants SURVEY.md
section 5.2 commits to:

- the winner's distance is <= every candidate's distance to the target;
- on distance ties the SMALLEST candidate wins (the deterministic
  re-expression of the reference's first-in-parse-order fold,
  transform-load.2025-08-19.rkt:52-57 — parse order is ascending).

Cases are packed into one DataFrame keyed by case_id so each hypothesis
example costs a single Spark job.
"""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from oic_options_chains_spark.operators.nearest import nearest_rows, nearest_selection

_case = st.tuples(
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=8, unique=True),
    st.lists(st.integers(-1000, 1000), min_size=1, max_size=4, unique=True),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_case, min_size=1, max_size=25))
def test_nearest_selection_invariants(spark, cases):
    cand_rows = [
        (cid, Decimal(v)) for cid, (cands, _) in enumerate(cases) for v in cands
    ]
    target_rows = [
        (cid, Decimal(t)) for cid, (_, targets) in enumerate(cases) for t in targets
    ]
    candidates = spark.createDataFrame(
        cand_rows, "case_id int, value decimal(10,2)"
    )
    targets = spark.createDataFrame(
        target_rows, "case_id int, target decimal(10,2)"
    )
    got = {
        (r.case_id, r.target): (r.value, r.distance)
        for r in nearest_selection(
            candidates, ["case_id"], "value", targets, "target"
        ).collect()
    }
    for cid, (cands, tgts) in enumerate(cases):
        for t in tgts:
            value, distance = got[(cid, Decimal(t))]
            best = min(cands, key=lambda v: (abs(v - t), v))
            assert value == Decimal(best)
            assert distance == abs(Decimal(best) - Decimal(t))
            assert all(distance <= abs(Decimal(v) - Decimal(t)) for v in cands)


# One group: its values (each carried by one to three rows, the call/put
# sides; None is a NULL value) and its per-group target (None is NULL).
# Small ranges make distance ties and shared winners common.
_group = st.tuples(
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(-20, 20)), st.integers(1, 3)),
        min_size=1,
        max_size=8,
    ),
    st.one_of(st.none(), st.integers(-20, 20)),
)


def _nearest_rows_reference(groups, shared):
    """Pure-Python nearest_rows: per group, the winner of every target is
    the value minimizing (|value - target|, value); NULL values and NULL
    targets never win."""
    kept = []
    for g, (values, own) in enumerate(groups):
        present = {v for v, _ in values if v is not None}
        winners = {
            min(present, key=lambda v: (abs(v - t), v))
            for t in [*shared, own]
            if t is not None and present
        }
        kept += [
            (g, v, side)
            for v, n_sides in values
            if v in winners
            for side in range(n_sides)
        ]
    return sorted(kept)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_group, min_size=1, max_size=6),
    st.lists(st.integers(-20, 20), min_size=1, max_size=4),
)
# ties (4 is as far from 3 as from 5; the smaller wins), two targets that
# share a winner (-1 and 0 both pick 0; its rows are kept once), a NULL
# target, a NULL value and a group whose only target is NULL
@example(
    groups=[([(3, 2), (5, 2), (0, 2), (None, 1)], None), ([(7, 1)], 7)],
    shared=[4, -1, 0],
)
@example(groups=[([(1, 2), (2, 2)], None)], shared=[])
def test_nearest_rows_matches_reference(spark, groups, shared):
    rows = [
        (g, v, side, own)
        for g, (values, own) in enumerate(groups)
        for v, n_sides in values
        for side in range(n_sides)
    ]
    df = spark.createDataFrame(rows, "g int, value int, side int, own int")
    got = nearest_rows(df, ["g"], "value", [*map(str, shared), "own"])
    assert got.columns == df.columns
    assert sorted((r.g, r.value, r.side) for r in got.collect()) == (
        _nearest_rows_reference(groups, shared)
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),        # key
            st.integers(0, 1000),     # orderable value
            st.integers(-100, 100),   # payload
        ),
        min_size=1,
        max_size=60,
    )
)
def test_latest_per_key_invariants(spark, rows):
    """latest_per_key: exactly one row per key; its order value is the key's
    maximum; tie broken by the highest payload (the declared tiebreak)."""
    from oic_options_chains_spark.operators.asof import latest_per_key

    df = spark.createDataFrame(rows, "k int, v int, payload int")
    got = {
        r.k: (r.v, r.payload)
        for r in latest_per_key(df, ["k"], "v", tiebreak=["payload"]).collect()
    }
    keys = {k for k, _, _ in rows}
    assert set(got) == keys
    for k in keys:
        group = [(v, p) for kk, v, p in rows if kk == k]
        assert got[k] == max(group)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.tuples(st.integers(0, 8), st.integers(-50, 50)),
             min_size=0, max_size=30, unique_by=lambda r: r[0]),
    st.lists(st.tuples(st.integers(0, 8), st.integers(-50, 50)),
             min_size=0, max_size=30, unique_by=lambda r: r[0]),
)
def test_upsert_invariants(spark, target_rows, batch_rows):
    """upsert (K3): result keys = target ∪ batch; batch payload wins on
    overlap; target-only payloads untouched; no duplicate keys."""
    from oic_options_chains_spark.operators.merge import upsert

    schema = "k int, payload int"
    target = spark.createDataFrame(target_rows, schema)
    batch = spark.createDataFrame(batch_rows, schema)
    got = {r.k: r.payload for r in upsert(target, batch, ["k"]).collect()}
    t, b = dict(target_rows), dict(batch_rows)
    assert got == {**t, **b}
