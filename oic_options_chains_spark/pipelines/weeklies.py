"""Weekly-options membership pipeline (reference:
weeklies-transform-load.rkt:41-69; SURVEY.md S3/F7/F10/K3).

The OCC CSV is schemaless with preamble/header noise; the reference
skipped bad lines by letting the per-row insert fail. Relationally that
is: split/trim the line (F7), try-parse the effective date (F23), keep
rows where it parsed. Symbol aliases are a tiny broadcast CASE map (F10),
and the load is an SCD-0 upsert keyed on the symbol (K3) — batch rows
replace matching target rows, `last_seen` tracks freshness.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oic_options_chains_spark.functions.cleaning import enum_map
from oic_options_chains_spark.operators.asof import latest_per_key
from oic_options_chains_spark.operators.merge import upsert

# reference: weeklies-transform-load.rkt:65-68
SYMBOL_ALIASES = {"BRKB": "BRK.B", "RDSA": "RDS.A"}


def parse_weeklies_csv(
    spark: SparkSession, path: str, file_date: dt.date
) -> DataFrame:
    """Raw OCC CSV -> ``weekly`` batch rows (act_symbol, effective_date,
    last_seen)."""
    return weeklies_from_lines(spark.read.text(path), file_date)


def weeklies_from_lines(lines: DataFrame, file_date: dt.date) -> DataFrame:
    """One OCC file's text lines (``value``) -> its ``weekly`` batch rows.
    Malformed lines (preamble, header, short rows) drop out where the date
    fails to parse — the reference's exception-skip
    (weeklies-transform-load.rkt:47-50) as a filter. The batch read and
    each streamed micro-batch file date run this same transform."""
    parts = F.split(F.col("value"), ",")
    # F.get (not getItem): short/garbage lines yield NULL instead of the
    # ANSI out-of-bounds error, reproducing the reference's skip-on-error
    parsed = lines.select(
        F.trim(F.get(parts, 0)).alias("raw_symbol"),
        F.try_to_timestamp(F.trim(F.get(parts, 2))).cast("date").alias(
            "effective_date"
        ),
    )
    batch = (
        parsed.filter(
            F.col("effective_date").isNotNull() & (F.col("raw_symbol") != "")
        )
        .select(
            enum_map(F.col("raw_symbol"), SYMBOL_ALIASES).alias("act_symbol"),
            "effective_date",
            F.lit(file_date.isoformat()).cast("date").alias("last_seen"),
        )
    )
    # the reference upserts row-at-a-time so the file's LAST duplicate wins;
    # deterministically keep the latest effective_date per symbol instead.
    return latest_per_key(batch, ["act_symbol"], "effective_date")


def load_weeklies(target: DataFrame, batch: DataFrame) -> DataFrame:
    """Merged ``weekly`` table state (K3 upsert)."""
    return upsert(target, batch, ["act_symbol"])
