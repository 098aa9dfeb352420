"""Legacy HTML options-chains kernel (SURVEY.md X2) — the 2019/2022 eras
scraped chains from HTML pages before the JSON REST source existed
(reference: transform-load.rkt:47-64,98-131; 2022 outer paths at
transform-load.2022-04-29.rkt:105,122).

The kernel is deliberately dumb: it walks the chains grid and emits RAW
strings — the OCC symbol from each anchor's ``onmouseover`` plus the nine
positional ``<span>`` cells per side — one output row per (table row,
side). The OCC decode (underlying / yyMMdd expiry / C-P side / strike
milli-dollars), numeric try-casts, and percent decode all happen
relationally downstream with the existing F1/F2/F12/F23 helpers, so the
Python surface stays minimal and the selection pipeline is SHARED with
the JSON era byte-for-byte.

The mark price also comes from the page in these eras (X2: ``(table 5)
(tr 2)(td 1)``, transform-load.rkt:105-108) — later eras moved it to the
``ohlc`` table (J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oic_options_chains_spark.functions.cleaning import occ_symbol_parse
from oic_options_chains_spark.operators.kernel import row_kernel
from oic_options_chains_spark.parse.eras import Era
from oic_options_chains_spark.parse.html_tree import nested_tables, parse_tables

# 1-based td indices per extract-option field, before the side offset
# (transform-load.rkt:47-64): call side offset 0, put side offset -1.
_OCC_TD = 3
_VALUE_TDS = {
    "bid": 5, "ask": 6, "vol_pct": 10, "delta": 11,
    "gamma": 12, "theta": 13, "vega": 15, "rho": 16,
}
_SIDE_OFFSETS = {"call": 0, "put": -1}

_VALUE_FIELDS = tuple(_VALUE_TDS)
CHAIN_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("act_symbol", T.StringType(), False),
        T.StructField("occ", T.StringType(), True),
        T.StructField("mark_price", T.StringType(), True),
    ]
    + [T.StructField(f, T.StringType(), True) for f in _VALUE_FIELDS]
    + [T.StructField("parse_error", T.StringType(), True)]
)


def _locate(top_tables: list[list], era: Era, index: int) -> list:
    """sxpath outer path: 2019 nests the numbered tables inside the single
    outer table's tds; 2022 has them at the top level."""
    tables = nested_tables(top_tables[0]) if era.name == "2019" else top_tables
    return tables[index - 1]


def _cell(row: list, td_1based: int):
    idx = td_1based - 1
    return row[idx] if 0 <= idx < len(row) else None


def parse_chain_rows(html: str, era: Era) -> list[dict]:
    """Raw option rows from one legacy chains page.

    One dict per (grid row, side) that carries an OCC anchor; rows whose
    OCC anchor is absent for a side are dropped — the reference's
    empty-parse filter (P11, transform-load.rkt:124).
    """
    tables = parse_tables(html)
    mark_cell = _locate(tables, era, 5)[1][0]
    mark = mark_cell.texts[0] if mark_cell.texts else None

    out: list[dict] = []
    for grid_row in _locate(tables, era, 9):
        for host in grid_row:
            for table in host.tables:
                for row in table:
                    for side, offset in _SIDE_OFFSETS.items():
                        occ_cell = _cell(row, _OCC_TD + offset)
                        if occ_cell is None or not occ_cell.mouseovers:
                            continue
                        rec: dict = {"occ": occ_cell.mouseovers[0], "mark_price": mark}
                        for field, td in _VALUE_TDS.items():
                            value_cell = _cell(row, td + offset)
                            rec[field] = (
                                value_cell.span_texts[0]
                                if value_cell is not None and value_cell.span_texts
                                else None
                            )
                        out.append(rec)
    return out


def extract_chain_rows(pages: DataFrame, era: Era) -> DataFrame:
    """``(act_symbol, content)`` pages -> raw chain cells + error channel."""

    def chain_rows(sym, content):
        try:
            recs = parse_chain_rows(content, era)
        except Exception as exc:  # quarantine, never fail the job
            err = f"{type(exc).__name__}: {exc}"
            yield (sym, None, None, *(None,) * len(_VALUE_FIELDS), err)
        else:
            for rec in recs:
                values = (rec[f] for f in _VALUE_FIELDS)
                yield (sym, rec["occ"], rec["mark_price"], *values, None)

    return row_kernel(
        pages.select("act_symbol", "content"), chain_rows, CHAIN_CELLS_SCHEMA
    )


def chain_long_from_cells(cells: DataFrame) -> DataFrame:
    """Raw cells -> the same long shape ``explode_sides`` produces for the
    JSON era, so nearest-selection and normalization are shared.

    OCC decode is the relational F1/F2/F12 helper (rows whose anchor is
    not a well-formed OCC symbol are dropped first — under ANSI mode the
    strike cast would otherwise throw on the empty extract); numbers
    try-cast (NULL on garbage, F23); the percent cell strips '%' into the
    ivint domain the shared normalizer divides by 100 (F3)."""
    from oic_options_chains_spark.functions.cleaning import OCC_PATTERN

    occ = occ_symbol_parse(F.col("occ"))
    return (
        cells.filter(F.col("parse_error").isNull())
        .filter(F.regexp_replace(F.col("occ"), r"\s+", "").rlike(OCC_PATTERN))
        .select(
            F.col("act_symbol"),
            occ["expiration"].alias("expiration"),
            occ["strike"].alias("strike"),
            occ["side"].alias("side"),
            F.col("bid").try_cast("decimal(18,3)").alias("bid"),
            F.col("ask").try_cast("decimal(18,3)").alias("ask"),
            F.lit(None).cast("decimal(38,6)").alias("theoprice"),
            F.regexp_replace(F.col("vol_pct"), "%", "")
            .try_cast("decimal(38,6)")
            .alias("ivint"),
            *[
                F.col(g).try_cast("decimal(38,6)").alias(g)
                for g in ("delta", "gamma", "theta", "vega", "rho")
            ],
        )
    )


def page_marks(cells: DataFrame) -> DataFrame:
    """Per-symbol mark price scraped from the page itself (X2)."""
    return (
        cells.filter(F.col("parse_error").isNull())
        .groupBy("act_symbol")
        .agg(
            F.first("mark_price").try_cast("decimal(18,3)").alias("mark_price")
        )
        .filter(F.col("mark_price").isNotNull())
    )
