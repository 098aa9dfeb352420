"""Export / restore pipelines (reference: dump-dolt.rkt:46-148,
dump-dat.rkt:44-94, restore-from-dolt.rkt:45-71; SURVEY.md K4-K6).

Each export is a pure projection the oracle can check (P1/P2/F22/F26/O1)
plus a partitioned CSV write. The reference wrote one sorted CSV per date
in a driver loop; here ``repartition(date)`` + ``sortWithinPartitions``
yields the same per-date sorted files from one distributed write — no
driver loop, any number of dates.

The Dolt commit of a day's exported tables is
``sources.snapshots.commit_tables``; a restore reads a table back with
``read_table_snapshot`` and loads it through
``restore_option_chain_projection`` and ``append_day``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oic_options_chains_spark.functions.decimal_ops import trunc_n

_GREEKS = ("vol", "delta", "gamma", "theta", "vega", "rho")


def dolt_option_chain_projection(df: DataFrame) -> DataFrame:
    """The dump-dolt option_chain shape: text casts with trunc(bid,2) /
    trunc(greek,4), sorted by (act_symbol, expiration, strike::numeric,
    call_put) — the sort key uses the NUMERIC strike even though the
    projected column is text (dump-dolt.rkt:54-73)."""
    return (
        df.orderBy(
            "act_symbol",
            "expiration",
            F.col("strike").cast("decimal(18,3)"),
            "call_put",
        )
        .select(
            F.col("date").cast("string").alias("date"),
            F.col("act_symbol").cast("string").alias("act_symbol"),
            F.col("expiration").cast("string").alias("expiration"),
            F.col("strike").cast("string").alias("strike"),
            F.col("call_put").cast("string").alias("call_put"),
            trunc_n(F.col("bid"), 2, "decimal(18,2)").cast("string").alias("bid"),
            trunc_n(F.col("ask"), 2, "decimal(18,2)").cast("string").alias("ask"),
            *[
                trunc_n(F.col(g), 4, "decimal(18,4)").cast("string").alias(g)
                for g in _GREEKS
            ],
        )
    )


def dolt_volatility_projection(df: DataFrame) -> DataFrame:
    """The dump-dolt volatility_history shape: every column text-cast and
    NULL-coalesced to '' for CSV, sorted by symbol (dump-dolt.rkt:96-130)."""
    value_cols = [c for c in df.columns if c not in ("date", "act_symbol")]
    return df.orderBy("act_symbol").select(
        F.col("date").cast("string").alias("date"),
        F.col("act_symbol").cast("string").alias("act_symbol"),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c)
            for c in value_cols
        ],
    )


def dat_option_chain_projection(df: DataFrame) -> DataFrame:
    """The dump-dat cleaned shape: only rows with EVERY quote/greek present
    (P5), plain text casts (no trunc), 5-key sort (dump-dat.rkt:51-78)."""
    notnull = F.lit(True)
    for c in ("bid", "ask", *_GREEKS):
        notnull = notnull & F.col(c).isNotNull()
    return (
        df.filter(notnull)
        .orderBy("act_symbol", "expiration", "strike", "call_put", "date")
        .select(
            *[
                F.col(c).cast("string").alias(c)
                for c in (
                    "act_symbol", "expiration", "strike", "call_put", "date",
                    "bid", "ask", *_GREEKS,
                )
            ]
        )
    )


def restore_option_chain_projection(df: DataFrame) -> DataFrame:
    """The Dolt->warehouse restore shape: pre-model_value rows come back
    with an explicit NULL model_value column (restore-from-dolt.rkt:50-64,
    F27); the subsequent load is the same conflict-ignore append (K1) via
    ``sources.warehouse.append_day``."""
    cols = [
        "act_symbol", "expiration", "strike", "call_put", "date",
        "bid", "ask", *_GREEKS,
    ]
    return df.select(
        *cols, F.lit(None).cast("decimal(18,3)").alias("model_value")
    )


def write_csv_by_date(df: DataFrame, out_dir: str, sort_cols: list[str]) -> None:
    """Per-date sorted CSV files with header: one hash partition per date,
    rows sorted inside each file — the distributed equivalent of the
    reference's per-date export loop (dump-dolt.rkt:46-77)."""
    (
        # partition on a copy so the date column itself stays in the CSV
        # body (the reference's files carry it as the first column)
        df.withColumn("__pdate", F.col("date"))
        .repartition(F.col("__pdate"))
        # led by the partition column, this meets the partitioned
        # write's ordering, so the writer adds no sort of its own
        .sortWithinPartitions("__pdate", *sort_cols)
        .write.mode("overwrite")
        .partitionBy("__pdate")
        .option("header", True)
        .csv(out_dir)
    )


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    n_shards: int = 8,
) -> None:
    """Materialize the epoch-stable global shuffle as the on-disk layout
    a data loader streams: one ``shard=N`` directory per shard, rows
    stored in their deterministic ``position`` order (parquet preserves
    within-file row order, and ``sortWithinPartitions`` runs after the
    shard repartition, so each shard's files read back in stream order).

    This is ``sampling.global_shuffle``'s documented writer chain made
    concrete: repartition on the shard key — one exchange — then an
    in-partition sort, then a partitioned write. Re-running over the
    same corpus produces byte-stable shard membership and order (md5
    everywhere), which is what makes training runs reproducible and
    resumable mid-epoch. At 100 TB each shard writes in parallel and no
    global sort exists anywhere."""
    _sharded_writer(docs, key, n_shards).parquet(out_dir)


def _sharded_writer(docs: DataFrame, key: str, n_shards: int):
    """The shared shard-layout chain both shard writers (parquet and
    JSONL) must use: one shard exchange, then an in-partition sort on
    BOTH keys — the dynamic-partition writer requires its partition
    column ordered, so a bare sort("position") would get an extra
    Sort(shard) inserted above it and per-shard position order would
    then rest on sort stability (an implementation detail, not a
    contract); (shard, position) already satisfies the writer, so no
    second sort is inserted at all."""
    from oic_options_chains_spark.operators.sampling import global_shuffle

    shuffled = global_shuffle(docs, key, n_shards)
    return (
        shuffled.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "position")
        .write.mode("overwrite")
        .partitionBy("shard")
    )


def write_jsonl_shards(
    docs: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    n_shards: int = 8,
    compress: bool = True,
) -> None:
    """``write_training_shards`` in JSON-Lines — the de-facto exchange
    format LLM training stacks ingest: one ``shard=N`` directory per
    shard, one JSON object per line, lines in the deterministic
    epoch-stable ``position`` order, gzip per file when ``compress``
    (splittability does not matter here: the shard is the unit of
    loader parallelism, and each shard is one stream).

    Identical plan shape to the parquet writer (the shared
    ``_sharded_writer`` chain — including its both-keys sort contract);
    Spark's JSON sink preserves within-file row order the same way
    parquet does. The ``position`` column is kept in each record on
    purpose: a loader can verify resume offsets against it."""
    writer = _sharded_writer(docs, key, n_shards)
    if compress:
        writer = writer.option("compression", "gzip")
    writer.json(out_dir)
