"""Incremental raw-zone ingestion as Structured Streaming (SURVEY.md
section 2.9, T3-T5).

The reference's daily cron replay — "process the folder named for today;
any past date is replayable with ``-d``" (transform-load.2025-08-19.rkt:
88-90,158) — is a file-source stream over ``base/yyyy-MM-dd/*.json`` with
``Trigger.AvailableNow``:

- T3: the checkpoint tracks which raw files are done, so each run
  processes exactly the new ones and stops — the cron batch, minus the
  bookkeeping.
- T4: each micro-batch routes through the SAME batch transform
  (``chain_from_raw``) into the conflict-ignore append, so a batch that
  retries after a crash re-merges the same rows into a no-op:
  exactly-once table effect from at-least-once delivery.
- T5: per-file parse failures are already quarantine channels inside the
  transforms, not exceptions, so one bad file never stalls the stream.

No watermark is needed: late data is just a late file, and idempotent
replay absorbs it (the reference had the same story). A continuous
deployment would swap ``availableNow=True`` for a processing-time
trigger unchanged.

Scale: the file source lists only new files per batch; each batch is
date-grouped driver-side (a distinct over at most a handful of ingest
dates) and each date's transform is the same pruned single-partition
plan as the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oic_options_chains_spark.operators.metrics import observed_counts
from oic_options_chains_spark.parse.eras import era_for_date
from oic_options_chains_spark.pipelines.chains_raw import chain_from_raw
from oic_options_chains_spark.schemas import CHAIN_RAW, OPTION_CHAIN_PK
from oic_options_chains_spark.sources.warehouse import append_day

_DATE_FROM_PATH = r"/(\d{4}-\d{2}-\d{2})/[^/]+$"

# A micro-batch's file list spans at most a handful of dated folders —
# even an AvailableNow drain of a year's backlog is ~365 distinct days.
_MAX_DAYS_PER_BATCH = 10_000


def _distinct_days(batch: DataFrame, col: str) -> list:
    """Driver-side list of a micro-batch's distinct ingest days.

    BOUNDED collect: cardinality is the number of distinct DATES in one
    micro-batch, never its row count — the one shape of driver-side
    iteration this codebase allows. The limit+raise is a tripwire so
    the pattern cannot be copied onto an unbounded key unnoticed."""
    rows = (
        batch.select(col).distinct().limit(_MAX_DAYS_PER_BATCH + 1).collect()
    )
    if len(rows) > _MAX_DAYS_PER_BATCH:
        raise ValueError(
            f"micro-batch spans >{_MAX_DAYS_PER_BATCH} distinct {col} values "
            "— split the backfill into smaller drains"
        )
    return sorted(r[0] for r in rows if r[0] is not None)


def raw_chain_stream(spark: SparkSession, base_dir: str) -> DataFrame:
    """File-source stream over every dated folder; symbol and ingest date
    are derived from the file path exactly as in the batch reader."""
    read_schema = T.StructType([f for f in CHAIN_RAW if f.name != "act_symbol"])
    return (
        spark.readStream.schema(read_schema)
        .option("multiLine", "true")
        .option("pathGlobFilter", "*.json")
        .json(f"{base_dir}/*")
        .withColumn(
            "act_symbol",
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.json$", 1),
        )
        .withColumn(
            "ingest_date",
            F.regexp_extract(F.input_file_name(), _DATE_FROM_PATH, 1).cast("date"),
        )
    )


def run_incremental_chain_load(
    spark: SparkSession,
    base_dir: str,
    table_dir: str,
    ohlc: DataFrame,
    checkpoint_dir: str,
    all_options: bool = False,
    first_symbol: str | None = None,
    last_symbol: str | None = None,
    metrics_dir: str | None = None,
) -> None:
    """Drain all unprocessed raw files into the warehouse table, then stop.

    ``first_symbol``/``last_symbol`` are the reference's resume range
    (extract-transform-load-with-first-symbol.sh:6, extract.rkt:96-103):
    files outside the range are consumed by the stream (checkpointed as
    done) but load nothing — exactly the resume semantics, where skipped
    symbols were already handled by a previous run. Bounds are applied
    conditionally so an unset bound never reaches the plan.

    ``metrics_dir`` is the reference's per-run reconciliation counters
    (transform-load.2025-08-19.rkt:425-427) as a table: one row per
    (ingest day, micro-batch) with attempted/loaded/failed counts, both
    observed during ``append_day``'s own jobs. ``failed`` means
    "attempted minus actually appended", i.e. replayed rows absorbed by
    conflict-ignore, the same quantity the reference's failure counter
    tracked under ON CONFLICT DO NOTHING."""

    def process(batch: DataFrame, batch_id: int) -> None:
        for day in _distinct_days(batch, "ingest_date"):
            era = era_for_date(day)
            raw = batch.filter(F.col("ingest_date") == F.lit(day)).drop("ingest_date")
            curated = chain_from_raw(raw, ohlc, day, era, all_options=all_options)
            curated, offered = observed_counts(curated)
            loaded = append_day(spark, table_dir, curated, OPTION_CHAIN_PK)
            if metrics_dir is None:
                continue
            attempted = offered.get["rows"]
            spark.createDataFrame(
                [(day, batch_id, attempted, loaded, attempted - loaded)],
                "date date, batch_id long, attempted long, loaded long, failed long",
            ).write.mode("append").parquet(metrics_dir)

    stream = raw_chain_stream(spark, base_dir)
    if first_symbol is not None:
        stream = stream.filter(F.col("act_symbol") >= first_symbol)
    if last_symbol is not None:
        stream = stream.filter(F.col("act_symbol") <= last_symbol)
    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def raw_page_stream(spark: SparkSession, base_dir: str) -> DataFrame:
    """Wholetext stream over the dated HTML volatility pages."""
    return (
        spark.readStream.option("wholetext", "true")
        .option("pathGlobFilter", "*.html")
        .text(f"{base_dir}/*")
        .withColumn(
            "act_symbol",
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.html$", 1),
        )
        .withColumn(
            "ingest_date",
            F.regexp_extract(F.input_file_name(), _DATE_FROM_PATH, 1).cast("date"),
        )
        .select("act_symbol", F.col("value").alias("content"), "ingest_date")
    )


def run_incremental_vol_load(
    spark: SparkSession,
    base_dir: str,
    table_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain unprocessed volatility pages into the warehouse table — the
    batch transform (``history_from_pages``) per micro-batch date."""
    from oic_options_chains_spark.pipelines.volatility import history_from_pages
    from oic_options_chains_spark.schemas import VOLATILITY_HISTORY_PK

    def process(batch: DataFrame, _batch_id: int) -> None:
        for day in _distinct_days(batch, "ingest_date"):
            pages = batch.filter(F.col("ingest_date") == F.lit(day)).select(
                "act_symbol", "content"
            )
            curated = history_from_pages(pages, day, era_for_date(day))
            append_day(spark, table_dir, curated, VOLATILITY_HISTORY_PK)

    (
        raw_page_stream(spark, base_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_incremental_weeklies_load(
    spark: SparkSession,
    csv_dir: str,
    table_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain unprocessed ``weeklyoptions.<date>.csv`` files into the
    persisted ``weekly`` table (K3 upsert per micro-batch).

    Unlike the fact tables this sink is a whole-table SCD-0 merge: each
    batch's files are parsed by the batch transform
    (``weeklies_from_lines``) and applied in file-date order against the
    CURRENT persisted state, so a replayed batch converges to the same
    table (upsert is idempotent for identical batches)."""
    from oic_options_chains_spark.pipelines.weeklies import (
        load_weeklies,
        weeklies_from_lines,
    )
    from oic_options_chains_spark.sources.warehouse import (
        overwrite_table,
        read_table,
        table_exists,
    )

    def process(batch: DataFrame, _batch_id: int) -> None:
        for day in _distinct_days(batch, "file_date"):
            lines = batch.filter(F.col("file_date") == F.lit(day))
            rows = weeklies_from_lines(lines, day)
            if table_exists(table_dir):
                merged = load_weeklies(read_table(spark, table_dir), rows)
            else:
                merged = rows
            overwrite_table(spark, table_dir, merged)

    lines = (
        spark.readStream.option("pathGlobFilter", "weeklyoptions.*.csv")
        .text(csv_dir)
        .withColumn(
            "file_date",
            F.regexp_extract(
                F.input_file_name(), r"weeklyoptions\.(\d{4}-\d{2}-\d{2})\.csv$", 1
            ).cast("date"),
        )
    )
    (
        lines.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
