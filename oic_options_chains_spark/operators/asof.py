"""As-of (backward) join and latest-row-per-key.

Re-expresses the reference's correlated scalar subquery — "close price at
the greatest ohlc.date <= folder date for this symbol" (reference:
transform-load.2025-08-19.rkt:104-113) — as a window plan (SURVEY.md J2/W1).

Scale notes: the window shuffles once on the key; with the fact table
date-partitioned and the ``date <= d`` predicate pushed to the scan, each
partition holds only the trailing history needed. No driver-side work.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Keep the single latest row per key, deterministically.

    ``tiebreak`` columns break exact ties on ``order_col`` (descending), so
    the result is reproducible under any partitioning (SURVEY.md W1).
    """
    ordering = [F.col(order_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    tiebreak: Sequence[str] = (),
    how: str = "left",
    direction: str = "backward",
    tolerance_days: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the nearest right row in the
    chosen ``direction`` within the same key group — the full
    backward/forward/tolerance trio of pandas ``merge_asof`` / kdb
    ``aj``, with the reference's semantic (backward, unbounded) as the
    default.

    - ``backward``: greatest ``right_time <= left_time``
      (transform-load.2025-08-19.rkt:104-113);
    - ``forward``: smallest ``right_time >= left_time``;
    - ``tolerance_days`` bounds the match window — at warehouse scale
      this is also the pruning lever: a bounded lookback turns "all
      history" into N date partitions on the scan.

    Plan: equi-join on keys with the range predicate, then keep the
    top-1 right row per left row via a window. For a small left side
    (the reference's case: one (symbol, date) pair per file) Catalyst
    broadcasts it and the range filter prunes before the window — but
    a key hot on BOTH sides pays n_left(k) * n_right(k) candidates
    before the window cuts them; :func:`asof_join_union` is the
    backward, unbounded form that stays linear per key at any skew.
    """
    assert direction in ("backward", "forward")
    lt = F.col(f"__l.{left_time}")
    rt = F.col(f"__r.{right_time}")
    if direction == "backward":
        cond: Column = rt <= lt
        if tolerance_days is not None:
            cond = cond & (F.datediff(lt, rt) <= tolerance_days)
    else:
        cond = rt >= lt
        if tolerance_days is not None:
            cond = cond & (F.datediff(rt, lt) <= tolerance_days)
    for k in on:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))

    joined = left.alias("__l").join(right.alias("__r"), on=cond, how=how)
    left_cols = [F.col(f"__l.{c}") for c in left.columns]
    right_cols = [
        F.col(f"__r.{c}").alias(c)
        for c in right.columns
        if c not in set(on)
    ]
    if direction == "backward":
        ordering = [rt.desc_nulls_last()] + [
            F.col(f"__r.{c}").desc_nulls_last() for c in tiebreak
        ]
    else:
        ordering = [rt.asc_nulls_last()] + [
            F.col(f"__r.{c}").asc_nulls_last() for c in tiebreak
        ]
    w = Window.partitionBy(*[F.col(f"__l.{c}") for c in left.columns]).orderBy(
        *ordering
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*left_cols, *right_cols)
    )


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    tiebreak: Sequence[str] = (),
    how: str = "left",
) -> DataFrame:
    """Backward as-of join as the UNION + sort + carry-forward merge
    plan — the skew-proof form of :func:`asof_join`.

    :func:`asof_join` executes as an equi-join on the keys with the
    range predicate filtered inside each key's partition, so a hot key
    costs n_left(k) * n_right(k) candidate pairs before the window
    reduces them — measured 117x wall on the Zipf twin of q_pit_join,
    where one user holds a Zipf-doubled share of both sides. This form
    never builds pairs: both inputs are unioned into one stream keyed
    on ``on``, sorted by (time, side, tiebreak) inside each key, and
    every left row reads the LAST right row at-or-before it from a
    running ``last(ignorenulls)`` over the sort — one shuffle + one
    sort per key partition, linear in the key's rows however skewed
    the key distribution is. At 100 TB this is the plan that survives:
    the hot entity's rows sort within one partition instead of
    exploding into a per-key cross product.

    Semantics (matches ``asof_join(direction="backward")``):

    - for each left row, the right row with the greatest
      ``right_time <= left_time`` in its key group wins;
    - exact ``right_time`` ties resolve to the greatest ``tiebreak``
      (ascending sort; the running last() keeps the final one);
    - a right row AT the left row's timestamp matches (right sorts
      before left at equal times);
    - right attributes are carried as ONE struct per right row, so the
      attached columns always come from a single right row even when
      some of its attributes are NULL;
    - ``how='left'`` keeps unmatched left rows with NULL right
      attributes, ``'inner'`` drops them.

    Returns all ``left`` columns plus every non-key, non-time ``right``
    column."""
    assert how in ("left", "inner")
    key_set = set(on)
    carry = [c for c in right.columns if c not in key_set and c != right_time]
    clash = sorted(set(carry) & set(left.columns))
    if clash:
        raise ValueError(
            "asof_join_union: right carry columns collide with left "
            f"columns (rename or drop one side): {clash}"
        )
    # StructType, not a DDL string: carry names needing quoting
    # (space/colon/comma) would break a hand-built "struct<...>" cast
    carry_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in carry]
    )
    l2 = left.select(
        *[F.col(c) for c in left.columns],
        F.col(left_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(carry_type).alias("__carry"),
    )
    r2 = right.select(
        *[F.col(k) for k in on],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c not in key_set
        ],
        F.col(right_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in carry]).alias("__carry"),
    )
    u = l2.unionByName(r2)
    w = (
        Window.partitionBy(*[F.col(k) for k in on])
        .orderBy(
            F.col("__t").asc(),
            F.col("__side").desc(),
            *[F.col("__carry")[c].asc_nulls_first() for c in tiebreak],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn(
        "__m", F.last(F.col("__carry"), ignorenulls=True).over(w)
    ).filter(F.col("__side") == 0)
    if how == "inner":
        matched = matched.filter(F.col("__m").isNotNull())
    return matched.select(
        *[F.col(c) for c in left.columns],
        *[F.col("__m")[c].alias(c) for c in carry],
    )
