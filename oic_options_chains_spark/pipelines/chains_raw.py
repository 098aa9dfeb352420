"""Options-chains pipeline: dated raw-zone JSON -> ``option_chain`` rows
(reference: transform-load.2025-08-19.rkt:103-226, traced in SURVEY.md
section 3.2 step 2).

The reference loops symbol files and rows; here the whole day is ONE
declarative plan:

1. scan ``base/yyyy-MM-dd/*.json`` with an explicit schema, symbol from
   the filename (S2/F11),
2. drop single-sided strike rows, unpivot wide call_*/put_* pairs to long
   call/put rows (P10/F29),
3. as-of mark price per symbol from ``ohlc`` (J2),
4. exact-decimal strike targets (mark x era multipliers) and expiry
   targets (folder date + era week offsets) (F20/F15),
5. nearest-expiry then nearest-strike window argmins per symbol (J3/J4),
6. normalize (enum map, ivint/100, trunc(greek, 4)) into the
   ``option_chain`` schema (F25/F3/F22).

Scale: the scan parallelizes across files and runs once; one exchange on
``act_symbol`` serves the expiry window, the strike window (per symbol and
expiration) and the final PK dedup, all prunable to one date partition.
Mark prices are broadcast.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oic_options_chains_spark.functions.cleaning import enum_map
from oic_options_chains_spark.functions.decimal_ops import trunc_n
from oic_options_chains_spark.operators.asof import latest_per_key
from oic_options_chains_spark.operators.dedup import dedup_by_key
from oic_options_chains_spark.operators.nearest import nearest_rows
from oic_options_chains_spark.parse.eras import Era, era_for_date
from oic_options_chains_spark.schemas import (
    CHAIN_RAW,
    DEC_GREEK,
    DEC_PRICE,
    OPTION_CHAIN_PK,
)

_SIDES = ("call", "put")
_SIDE_FIELDS = ("bid", "ask", "theoprice", "ivint", "delta", "gamma", "theta", "vega", "rho")


def read_chain_files(
    spark: SparkSession, base_dir: str, ingest_date: dt.date, era: Era
) -> DataFrame:
    """One row per raw per-strike JSON object in the day's folder."""
    assert era.chain_format == "json", (
        f"era {era.name} scraped chains from HTML; the raw JSON reader "
        "applies from 2023-11-16 (extract.2023-11-16.rkt:175-190)"
    )
    read_schema = T.StructType([f for f in CHAIN_RAW if f.name != "act_symbol"])
    path = f"{base_dir}/{ingest_date.isoformat()}/*.json"
    return (
        spark.read.schema(read_schema)
        .option("multiLine", "true")
        .json(path)
        .withColumn(
            "act_symbol",
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.json$", 1),
        )
    )


def explode_sides(raw: DataFrame) -> DataFrame:
    """Wide call_*/put_* strike rows -> long call/put rows (F29), dropping
    rows missing either side (P10, transform-load.2025-08-19.rkt:128,143)
    and rows without a readable expiration or strike, which could neither
    be selected nor keyed (a bad date is NULL, not a failed day: T5)."""
    expiration = F.try_to_date(F.col("expirationdate"))
    both = raw.filter(
        F.col("call_optionsymbol").isNotNull() & F.col("put_optionsymbol").isNotNull()
        & expiration.isNotNull() & F.col("strike").isNotNull()
    )
    sides = F.array(
        *[
            F.struct(
                F.lit("C" if side == "call" else "P").alias("side"),
                *[F.col(f"{side}_{f}").alias(f) for f in _SIDE_FIELDS],
            )
            for side in _SIDES
        ]
    )
    return both.select(
        "act_symbol",
        expiration.alias("expiration"),
        F.col("strike"),
        F.explode(sides).alias("s"),
    ).select("act_symbol", "expiration", "strike", "s.*")


def mark_prices(ohlc: DataFrame, ingest_date: dt.date) -> DataFrame:
    """As-of close per symbol: greatest ohlc date <= the folder date (J2,
    transform-load.2025-08-19.rkt:104-113)."""
    asof = latest_per_key(
        ohlc.filter(F.col("date") <= F.lit(ingest_date.isoformat()).cast("date")),
        ["act_symbol"],
        "date",
    )
    return asof.select("act_symbol", F.col("close").alias("mark_price"))


def select_chain(
    long_df: DataFrame, marks: DataFrame, ingest_date: dt.date, era: Era
) -> DataFrame:
    """Nearest-expiry then nearest-strike selection (J3/J4), keeping every
    side at each winning (expiration, strike). Symbols without a mark are
    dropped (transform-load.2025-08-19.rkt:163-169)."""
    at_expiry = nearest_rows(
        long_df,
        ["act_symbol"],
        "expiration",
        [f"DATE'{ingest_date + dt.timedelta(weeks=w)}'" for w in era.week_offsets],
        distance="abs(datediff({value}, {target}))",
    )
    marked = at_expiry.join(F.broadcast(marks), on="act_symbol", how="inner")
    return nearest_rows(
        marked,
        ["act_symbol", "expiration"],
        "strike",
        [f"mark_price * CAST({m} AS DECIMAL(6,4))" for m in era.strike_multipliers],
    ).drop("mark_price")


def normalize_chain(selected: DataFrame, ingest_date: dt.date, era: Era) -> DataFrame:
    """Long rows -> the ``option_chain`` schema with the reference's insert
    normalization (transform-load.2025-08-19.rkt:191-208): C/P -> Call/Put,
    ivint/100 (no trunc), trunc(greek, 4); model_value only in eras that
    carry theoprice. PK-deduped (K1 conflict-ignore absorbs the overlap
    between nearby targets)."""
    model_value = (
        F.col("theoprice").cast(DEC_PRICE)
        if era.has_model_value
        else F.lit(None).cast(DEC_PRICE)
    )
    out = selected.select(
        F.col("act_symbol"),
        F.col("expiration"),
        F.col("strike").cast(DEC_PRICE).alias("strike"),
        enum_map(F.col("side"), {"C": "Call", "P": "Put"}, keep_unmapped=False).alias(
            "call_put"
        ),
        F.lit(ingest_date.isoformat()).cast("date").alias("date"),
        F.col("bid").cast(DEC_PRICE),
        F.col("ask").cast(DEC_PRICE),
        (F.col("ivint") / F.lit(100)).cast(DEC_GREEK).alias("vol"),
        *[
            trunc_n(F.col(g), 4, f"decimal({DEC_GREEK.precision},{DEC_GREEK.scale})").alias(g)
            for g in ("delta", "gamma", "theta", "vega", "rho")
        ],
        model_value.alias("model_value"),
    )
    return dedup_by_key(out, OPTION_CHAIN_PK)


def chain_from_raw(
    raw: DataFrame,
    ohlc: DataFrame,
    ingest_date: dt.date,
    era: Era,
    all_options: bool = False,
) -> DataFrame:
    """The curated ``option_chain`` DataFrame from an already-scanned raw
    batch — shared by the batch entry point and the streaming wrapper
    (streaming/incremental.py), which per T3 must run the IDENTICAL
    transform per micro-batch."""
    long_df = explode_sides(raw)
    if all_options:
        return normalize_chain(long_df, ingest_date, era)
    marks = mark_prices(ohlc, ingest_date)
    return normalize_chain(select_chain(long_df, marks, ingest_date, era), ingest_date, era)


def chain_day(
    spark: SparkSession,
    base_dir: str,
    ohlc: DataFrame,
    ingest_date: dt.date,
    era: Era | None = None,
    all_options: bool = False,
) -> DataFrame:
    """The day's curated ``option_chain`` DataFrame. ``all_options=True``
    reproduces the reference's ``--all-options`` flag (no selection,
    transform-load.2025-08-19.rkt:147)."""
    era = era or era_for_date(ingest_date)
    raw = read_chain_files(spark, base_dir, ingest_date, era)
    return chain_from_raw(raw, ohlc, ingest_date, era, all_options)


def chain_day_html(
    spark: SparkSession,
    base_dir: str,
    ingest_date: dt.date,
    era: Era | None = None,
    all_options: bool = False,
) -> DataFrame:
    """The legacy (pre-2023-11-16) path: chains scraped from HTML pages,
    mark price scraped from the SAME page (X2) rather than joined from
    ``ohlc``; selection and normalization are byte-identical to the JSON
    era (transform-load.rkt:98-131)."""
    from oic_options_chains_spark.parse.html_chains import (
        chain_long_from_cells,
        extract_chain_rows,
        page_marks,
    )
    from oic_options_chains_spark.pipelines.volatility import read_good_pages

    era = era or era_for_date(ingest_date)
    assert era.chain_format == "html", (
        f"era {era.name} downloads JSON chains; use chain_day"
    )
    good = read_good_pages(spark, base_dir, ingest_date, era)
    cells = extract_chain_rows(good, era)
    long_df = chain_long_from_cells(cells)
    if all_options:
        return normalize_chain(long_df, ingest_date, era)
    marks = page_marks(cells)
    return normalize_chain(
        select_chain(long_df, marks, ingest_date, era), ingest_date, era
    )
