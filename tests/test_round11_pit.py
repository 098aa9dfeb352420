"""asof_join_union (the skew-proof union+sort+carry-forward as-of merge)
and its use as the q_pit_join plan — equivalence to the naive equi+range
interval join on adversarial inputs: duplicate timestamps, same-instant
regime flips (zero-length SCD2 intervals), hot keys, and unmatched facts.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.asof import asof_join, asof_join_union
from oic_options_chains_spark.operators.cdc import scd2_history


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def _pit_range_join(e):
    """The pre-round-11 q_pit_join plan, kept as the test reference."""
    dim = scd2_history(e, "user_id", "event_type", "ts", "event_id").select(
        "user_id",
        F.col("event_type").alias("regime_type"),
        "effective_from",
        "effective_to",
        "version",
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return fact.join(
        dim,
        on=[
            fact["user_id"] == dim["user_id"],
            fact["ts"] >= dim["effective_from"],
            dim["effective_to"].isNull() | (fact["ts"] < dim["effective_to"]),
        ],
    ).select(
        fact["event_id"],
        fact["user_id"],
        dim["version"],
        dim["regime_type"],
        dim["effective_from"],
    )


def _pit_union_join(e):
    """The round-11 q_pit_join plan (mirrors queries/maintenance.py)."""
    dim = scd2_history(e, "user_id", "event_type", "ts", "event_id").select(
        "user_id",
        F.col("event_type").alias("regime_type"),
        "effective_from",
        "version",
        F.col("effective_from").alias("__rt"),
    )
    fact = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join_union(
        fact,
        dim,
        on=["user_id"],
        left_time="ts",
        right_time="__rt",
        tiebreak=("version",),
        how="inner",
    ).select("event_id", "user_id", "version", "regime_type", "effective_from")


def _rows(df):
    return {tuple(r) for r in df.collect()}


import datetime as dt

TYPES = ["view", "purchase", "refund"]


def _random_events(seed, n_users, n_events):
    rng = random.Random(seed)
    rows = []
    for i in range(n_events):
        # duplicate timestamps on purpose: coarse second granularity
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(40))
        rows.append((i, rng.randrange(n_users), rng.choice(TYPES), ts))
    return rows


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(0, 10**6),
    n_users=st.integers(1, 4),
    n_events=st.integers(5, 60),
)
def test_pit_union_equals_range_join(spark, seed, n_users, n_events):
    """On random event streams dense with duplicate timestamps and
    same-instant regime flips, the merge plan's rows equal the
    equi+range interval join's exactly."""
    e = _events(spark, _random_events(seed, n_users, n_events))
    assert _rows(_pit_union_join(e)) == _rows(_pit_range_join(e))


def test_pit_hot_key_equivalence(spark):
    """One user holds almost all events (the Zipf failure shape)."""
    rng = random.Random(5)
    rows = []
    for i in range(400):
        uid = 0 if i % 10 else 1
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(seconds=rng.randrange(120))
        rows.append((i, uid, rng.choice(TYPES), ts))
    e = _events(spark, rows)
    got = _rows(_pit_union_join(e))
    assert got == _rows(_pit_range_join(e))
    assert got, "hot-key corpus produced no purchases"


def test_asof_join_union_matches_asof_join_backward(spark):
    """The generic operator agrees with asof_join(direction='backward')
    on a keyed quote/trade shape with ties broken identically."""
    trades = spark.createDataFrame(
        [
            (1, "A", 10),
            (2, "A", 15),
            (3, "B", 7),
            (4, "B", 5),  # before B's first quote: unmatched, inner drops it
            (5, "C", 9),  # C has no quotes: left keeps it, inner drops it
        ],
        "trade_id long, sym string, t long",
    )
    quotes = spark.createDataFrame(
        [
            ("A", 10, 100),  # tie with trade 1's t — matches
            ("A", 9, 99),
            ("A", 14, 140),
            ("B", 6, 60),
            ("B", 6, 61),  # duplicate time: higher px wins the tiebreak
        ],
        "sym string, qt long, px long",
    )
    ref = asof_join(
        trades,
        quotes,
        on=["sym"],
        left_time="t",
        right_time="qt",
        tiebreak=("px",),
        how="left",
    ).select("trade_id", "sym", "t", "qt", "px")
    got = asof_join_union(
        trades,
        quotes.select("sym", "qt", "px", F.col("qt").alias("__rt")),
        on=["sym"],
        left_time="t",
        right_time="__rt",
        tiebreak=("px",),
        how="left",
    ).select("trade_id", "sym", "t", "qt", "px")
    assert _rows(got) == _rows(ref)
    inner = asof_join_union(
        trades,
        quotes.select("sym", "qt", "px", F.col("qt").alias("__rt")),
        on=["sym"],
        left_time="t",
        right_time="__rt",
        tiebreak=("px",),
        how="inner",
    )
    assert {r.trade_id for r in inner.collect()} == {1, 2, 3}


def test_carry_struct_is_atomic_across_null_attributes(spark):
    """A right row with a NULL attribute must NOT have that attribute
    backfilled from an older right row — the struct carry keeps each
    match's attributes together."""
    left = spark.createDataFrame([(1, "A", 10)], "id long, k string, t long")
    right = spark.createDataFrame(
        [("A", 1, 5, "old"), ("A", 8, 50, None)],
        "k string, rt long, v long, label string",
    )
    got = asof_join_union(
        left,
        right.select("k", "rt", "v", "label", F.col("rt").alias("__rt")),
        on=["k"],
        left_time="t",
        right_time="__rt",
        how="left",
    ).collect()
    assert len(got) == 1
    assert got[0].v == 50 and got[0].label is None and got[0].rt == 8


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(0, 10**6))
def test_asof_join_strategies_agree(spark, seed):
    """asof_join_union == asof_join (the pairs plan) on random keyed
    data including NULL right times (which never match in either form)
    and exact right-time ties."""
    rng = random.Random(seed)
    left = spark.createDataFrame(
        [
            (i, rng.choice("AB"), rng.randrange(20))
            for i in range(rng.randrange(1, 15))
        ],
        "lid long, k string, t long",
    )
    right = spark.createDataFrame(
        [
            (
                rng.choice("ABC"),
                rng.choice([None] + list(range(20))),
                rng.randrange(100),
            )
            for _ in range(rng.randrange(1, 15))
        ],
        "k string, rt long, v long",
    )
    pairs = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt",
        tiebreak=("v",), how="left",
    )
    # the union form carries every non-key, non-time right column: keep
    # rt through an alias and drop the NULL right times up front
    r2 = right.filter(F.col("rt").isNotNull()).withColumn("__rt", F.col("rt"))
    merge = asof_join_union(
        left, r2, ["k"], "t", "__rt", tiebreak=("v",), how="left"
    )
    assert _rows(merge.select(*pairs.columns)) == _rows(pairs)
