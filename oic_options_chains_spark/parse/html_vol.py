"""HTML volatility-page kernel (SURVEY.md X1) — the engine's only
non-relational parse surface.

The reference sxpath-walks a cleaned page to ten positional table cells
(transform-load.2025-08-19.rkt:242-260; legacy transform-load.rkt:144-162).
Here the same walk is a tiny pure-Python kernel (stdlib ``html.parser``)
run under the per-row adapter (``operators/kernel.py``): it emits the
ten RAW cell strings per page and nothing else. Every downstream
transformation — percent decode, sentinel -> NULL, trunc(x/100, 4),
``" - "`` pair split, prior-year date inference — is expressed
relationally on the result (SURVEY.md F3/F6/F18/F22/F24), so Catalyst
optimizes it and only the unavoidable HTML walk pays the Python tax.

Failure isolation (T5): a page whose structure does not match yields a
row with ``parse_error`` set and NULL cells — the reference's
per-file rollback-and-count channel (transform-load.2025-08-19.rkt:
295-301) becomes a quarantine filter instead of an exception.

Scale: pages are independent rows; the adapter's batches stream
Arrow-encoded with ``spark.sql.execution.arrow.maxRecordsPerBatch``
bounding memory. No shuffle is introduced — parsing runs where the file
scan ran.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oic_options_chains_spark.functions.cleaning import sentinel_to_null
from oic_options_chains_spark.functions.dates import prior_year_date
from oic_options_chains_spark.functions.decimal_ops import trunc_n
from oic_options_chains_spark.operators.kernel import row_kernel
from oic_options_chains_spark.parse.eras import (
    BAD_PAGE_MARKERS,
    REQUIRED_MARKER,
    Era,
)
from oic_options_chains_spark.parse.html_tree import (
    first_inner_table,
    nested_tables,
    parse_tables,
)

# ---------------------------------------------------------------------------
# Pure-Python kernel (tree plumbing shared with html_chains via html_tree)
# ---------------------------------------------------------------------------

# Where the volatility grid lives, per era (the sxpath outer path):
#   2019:      html body table tr td (table LAST) (tr 1) (td 1) table
#   2022:      html body (table LAST) (tr 1) (td 1) table
#   2023:      html body table tr td (table 2) tr (td 1) table
#   2024/2025: html body (table 2) tr (td 1) table
_GRID_STRATEGY = {
    "2019": "nested-last",
    "2022-04-29": "top-last",
    "2023-11-16": "nested-second",
    "2024-04-26": "top-second",
    "2025-08-19": "top-second",
}


def _locate_grid(top_tables: list[list], strategy: str) -> list:
    if strategy == "nested-last":
        host = nested_tables(top_tables[0])[-1]
    elif strategy == "top-last":
        host = top_tables[-1]
    elif strategy == "nested-second":
        host = nested_tables(top_tables[0])[1]
    else:  # top-second
        host = top_tables[1]
    return first_inner_table(host)


# (row, td, text-segment) per field, 0-based; sxpath indices are 1-based
# (transform-load.2025-08-19.rkt:252-260 / transform-load.rkt:152-162).
_LAYOUT = {
    "legacy": {
        "hv_current": (4, 1, 0), "hv_week_ago": (4, 2, 0),
        "hv_month_ago": (4, 3, 0), "hv_year_high": (4, 4, 0),
        "hv_year_low": (4, 5, 0),
        "iv_current": (8, 1, 0), "iv_week_ago": (8, 2, 0),
        "iv_month_ago": (8, 3, 0), "iv_year_high": (8, 4, 0),
        "iv_year_low": (8, 5, 0),
    },
    "current": {
        "hv_current": (4, 1, 0), "hv_week_ago": (4, 2, 0),
        "hv_month_ago": None, "hv_year_high": (4, 3, 0),
        "hv_year_low": (4, 4, 1),
        "iv_current": (8, 1, 0), "iv_week_ago": (8, 2, 0),
        "iv_month_ago": None, "iv_year_high": (8, 3, 0),
        "iv_year_low": (8, 4, 1),
    },
}

CELL_FIELDS = tuple(_LAYOUT["legacy"])  # stable output order


def parse_history_cells(html: str, era: Era) -> dict[str, str | None]:
    """Ten raw volatility cells from one page. Raises on layout mismatch."""
    grid = _locate_grid(parse_tables(html), _GRID_STRATEGY[era.name])
    out: dict[str, str | None] = {}
    for field, coord in _LAYOUT[era.history_grid].items():
        if coord is None:
            out[field] = None
            continue
        row, td, seg = coord
        out[field] = grid[row][td].texts[seg]
    return out


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------

CELLS_SCHEMA = T.StructType(
    [T.StructField("act_symbol", T.StringType(), False)]
    + [T.StructField(f, T.StringType(), True) for f in CELL_FIELDS]
    + [T.StructField("parse_error", T.StringType(), True)]
)


def extract_history_cells(pages: DataFrame, era: Era) -> DataFrame:
    """``(act_symbol, content)`` pages -> raw cells + error channel."""

    def cells(sym, content):
        try:
            rec = parse_history_cells(content, era)
        except Exception as exc:  # quarantine, never fail the job
            err = f"{type(exc).__name__}: {exc}"
            yield (sym, *(None,) * len(CELL_FIELDS), err)
        else:
            yield (sym, *(rec[f] for f in CELL_FIELDS), None)

    return row_kernel(pages.select("act_symbol", "content"), cells, CELLS_SCHEMA)


def is_bad_page(content: Column, era: Era) -> Column:
    """The reference's sentinel skip (transform-load.2025-08-19.rkt:290-292;
    HTML eras additionally require a marker, transform-load.rkt:230-234)."""
    bad = None
    for marker in BAD_PAGE_MARKERS:
        cond = content.contains(marker)
        bad = cond if bad is None else bad | cond
    if era.require_marker:
        bad = bad | ~content.contains(REQUIRED_MARKER)
    return bad


def _vol_value(raw: Column) -> Column:
    """``'12.34%'`` -> 0.1234 with sentinel -> NULL and trunc toward zero
    (transform-load.2025-08-19.rkt:327-393,398-417)."""
    cleaned = sentinel_to_null(F.regexp_replace(raw, "[,%]", ""))
    return trunc_n(
        cleaned.cast("decimal(18,6)") / F.lit(100), 4, "decimal(18,4)"
    )


def normalize_history(cells: DataFrame, ingest_date: dt.date, era: Era) -> DataFrame:
    """Raw cells -> the ``volatility_history`` schema (schema.sql:29-51).

    Year-high/low cells are ``'45.67% - 05-Aug'`` pairs: value and a
    yearless date resolved against the ingest date (F6/F18); the date is
    NULL when the value is '0.00%'/'N/A'
    (transform-load.2025-08-19.rkt:264-282).
    """
    snap = F.lit(ingest_date.isoformat()).cast("date")

    def pair(cell: str):
        value = F.split(F.col(cell), " - ").getItem(0)
        dm = F.split(F.col(cell), " - ").getItem(1)
        resolved = F.when(
            value.startswith("0.00%") | value.startswith("N/A"), F.lit(None)
        ).otherwise(prior_year_date(dm, snap, leap_hack=era.leap_hack))
        return _vol_value(value), resolved.cast("date")

    hv_yh, hv_yh_d = pair("hv_year_high")
    hv_yl, hv_yl_d = pair("hv_year_low")
    iv_yh, iv_yh_d = pair("iv_year_high")
    iv_yl, iv_yl_d = pair("iv_year_low")
    return cells.filter(F.col("parse_error").isNull()).select(
        F.col("act_symbol"),
        snap.alias("date"),
        _vol_value(F.col("hv_current")).alias("hv_current"),
        _vol_value(F.col("hv_week_ago")).alias("hv_week_ago"),
        _vol_value(F.col("hv_month_ago")).alias("hv_month_ago"),
        hv_yh.alias("hv_year_high"),
        hv_yh_d.alias("hv_year_high_date"),
        hv_yl.alias("hv_year_low"),
        hv_yl_d.alias("hv_year_low_date"),
        _vol_value(F.col("iv_current")).alias("iv_current"),
        _vol_value(F.col("iv_week_ago")).alias("iv_week_ago"),
        _vol_value(F.col("iv_month_ago")).alias("iv_month_ago"),
        iv_yh.alias("iv_year_high"),
        iv_yh_d.alias("iv_year_high_date"),
        iv_yl.alias("iv_year_low"),
        iv_yl_d.alias("iv_year_low_date"),
    )
