"""Nearest-selection: the reference's argmin folds (SURVEY.md J3/J4/A4/O4).

The reference folds over candidates keeping the minimum absolute distance
with strict ``<`` — so the FIRST candidate in parse order wins ties
(reference: transform-load.2025-08-19.rkt:51-66, applied :147-152). Parse
order is expiration/strike ascending in the source files, so the window
tie-break is (distance ASC, candidate ASC): deterministic and
order-independent under any partitioning.

Scale notes: ``nearest_selection`` (queries) resolves distinct candidates x
broadcast targets with one window; callers join the winners back.
``nearest_rows`` (the daily chain) keeps the rows in place: each target's
argmin is a ``min(struct(distance, value))`` over one unordered window on
the group, so the input is read once and crosses one exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def nearest_selection(
    candidates: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    targets: DataFrame,
    target_col: str,
    distance: Column | None = None,
) -> DataFrame:
    """For each (group x target), pick the candidate value minimizing
    ``abs(value - target)`` with first-in-order tie-break.

    ``candidates`` should already be distinct on (group_cols, value_col).
    ``targets`` is a (usually tiny, broadcast) DataFrame with ``target_col``
    and optionally some of ``group_cols`` to scope targets per group.
    Returns one row per (group, target): group_cols + [target_col,
    value_col, "distance"].
    """
    join_keys = [c for c in group_cols if c in targets.columns]
    joined = (
        candidates.join(F.broadcast(targets), on=join_keys, how="inner")
        if join_keys
        else candidates.crossJoin(F.broadcast(targets))
    )
    if distance is None:
        dist = F.abs(F.col(value_col) - F.col(target_col))
    else:
        dist = distance
    w = Window.partitionBy(*group_cols, target_col).orderBy(
        dist.asc(), F.col(value_col).asc()
    )
    return (
        joined.withColumn("distance", dist)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def nearest_date_selection(
    candidates: DataFrame,
    group_cols: Sequence[str],
    date_col: str,
    targets: DataFrame,
    target_col: str,
) -> DataFrame:
    """Date flavor: distance is ``abs(datediff(date, target))`` in days
    (reference: transform-load.2025-08-19.rkt:53-54)."""
    return nearest_selection(
        candidates,
        group_cols,
        date_col,
        targets,
        target_col,
        distance=F.abs(F.datediff(F.col(date_col), F.col(target_col))),
    )


def nearest_rows(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    targets: Sequence[str],
    distance: str = "abs({value} - {target})",
) -> DataFrame:
    """Rows of ``df`` (its columns, each row once) whose ``value_col`` is,
    within its group, the nearest value to at least one of ``targets``.

    ``targets`` are SQL expressions over ``df``'s columns and ``distance``
    is a SQL template over ``{value}`` and ``{target}``: as Column trees,
    27 targets cost more py4j round trips than the selection saves. Ties go
    to the smaller value, as in ``nearest_selection``; a NULL distance (NULL
    value or target) never wins.
    """
    v = f"`{value_col}`"
    over = "OVER (PARTITION BY " + ", ".join(f"`{c}`" for c in group_cols) + ")"
    winners = []
    for t in targets:
        d = distance.format(value=v, target=f"({t})")
        winners.append(
            f"(min(CASE WHEN {d} IS NOT NULL THEN struct({d} AS d, {v} AS v) END) {over}).v"
        )
    return (
        df.selectExpr("*", f"array({', '.join(winners)}) AS __won")
        .where(f"array_contains(__won, {v})")
        .drop("__won")
    )
