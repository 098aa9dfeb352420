"""Volatility-history pipeline: dated raw-zone HTML -> ``volatility_history``
rows (reference: transform-load.2025-08-19.rkt:284-421, traced in
SURVEY.md section 3.2 step 3).

Read shape (S1): one wholetext row per ``SYMBOL.html`` under
``base/yyyy-MM-dd/``; the symbol key comes from the filename (F11), the
parser era from the ingest date (section 0 drift history). Bad pages are
filtered relationally (P9), the ten-cell HTML walk is the mapInPandas
kernel (X1), and everything after is Catalyst-optimized column work.

Scale: the raw zone is date-partitioned by folder; one day's load reads
one folder (partition pruning by construction), parses where the scan
runs (no shuffle), and appends one ``date=`` partition downstream.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oic_options_chains_spark.parse.eras import Era, era_for_date
from oic_options_chains_spark.parse.html_vol import (
    extract_history_cells,
    is_bad_page,
    normalize_history,
)


def read_history_pages(
    spark: SparkSession, base_dir: str, ingest_date: dt.date
) -> DataFrame:
    """``(act_symbol, content)`` — one row per page in the day's folder."""
    path = f"{base_dir}/{ingest_date.isoformat()}"
    return (
        spark.read.text(path, wholetext=True)
        .withColumn(
            "act_symbol",
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.html$", 1),
        )
        .select("act_symbol", F.col("value").alias("content"))
    )


def good_pages(pages: DataFrame, era: Era) -> DataFrame:
    """``pages`` minus the reference's bad-page skip (P9)."""
    return pages.filter(~is_bad_page(F.col("content"), era))


def read_good_pages(
    spark: SparkSession, base_dir: str, ingest_date: dt.date, era: Era
) -> DataFrame:
    """The day's pages minus the bad-page skip."""
    return good_pages(read_history_pages(spark, base_dir, ingest_date), era)


def history_from_pages(
    pages: DataFrame, ingest_date: dt.date, era: Era
) -> DataFrame:
    """One ingest day's ``(act_symbol, content)`` pages -> its
    ``volatility_history`` rows: bad-page skip, X1 kernel, normalize. The
    batch read and each streamed micro-batch day run this same transform."""
    cells = extract_history_cells(good_pages(pages, era), era)
    return normalize_history(cells, ingest_date, era)


def vol_history(
    spark: SparkSession,
    base_dir: str,
    ingest_date: dt.date,
    era: Era | None = None,
) -> DataFrame:
    """The day's parsed ``volatility_history`` DataFrame."""
    era = era or era_for_date(ingest_date)
    pages = read_history_pages(spark, base_dir, ingest_date)
    return history_from_pages(pages, ingest_date, era)


def vol_history_quarantine(
    spark: SparkSession,
    base_dir: str,
    ingest_date: dt.date,
    era: Era | None = None,
) -> DataFrame:
    """The failure channel (T5): pages that parsed badly, with the error."""
    era = era or era_for_date(ingest_date)
    good = read_good_pages(spark, base_dir, ingest_date, era)
    cells = extract_history_cells(good, era)
    return cells.filter(F.col("parse_error").isNotNull()).select(
        "act_symbol", "parse_error"
    )
