"""End-to-end tests for the raw JSON chains pipeline (SURVEY.md section
3.2 step 2) and the idempotent warehouse append (K1/T4)."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest

from oic_options_chains_spark.schemas import OHLC

INGEST = dt.date(2025, 8, 19)  # 2025 era: +2/+4/+6/+8 weeks, 27 strikes
EXPIRIES = ["2025-09-02", "2025-09-17", "2025-10-01", "2025-10-15"]
DECOY_EXPIRY = "2026-01-01"
STRIKES = ["50", "70", "82.5", "100", "112.5", "130", "200"]
# With mark=100, the 27 multipliers select exactly these (decoys never win):
WINNING_STRIKES = {Decimal(s) for s in ("70", "82.5", "100", "112.5", "130")}


def _row(expiry: str, strike: str, single_sided: bool = False) -> dict:
    row = {
        "expirationdate": expiry,
        "strike": float(strike),
        "call_optionsymbol": f"AAA{expiry}C{strike}",
        "call_bid": 1.25, "call_ask": 1.35, "call_theoprice": 1.30,
        "call_ivint": 34.56, "call_delta": 0.5432, "call_gamma": 0.0123,
        "call_theta": -0.05678, "call_vega": 0.2345, "call_rho": 0.0456,
        "put_optionsymbol": f"AAA{expiry}P{strike}",
        "put_bid": 2.25, "put_ask": 2.35, "put_theoprice": 2.30,
        "put_ivint": 36.78, "put_delta": -0.4567, "put_gamma": 0.0124,
        "put_theta": -0.04567, "put_vega": 0.2346, "put_rho": -0.0455,
    }
    if single_sided:
        row["put_optionsymbol"] = None
    return row


@pytest.fixture(scope="module")
def raw_zone(tmp_path_factory):
    base = tmp_path_factory.mktemp("raw")
    day = base / INGEST.isoformat()
    day.mkdir()
    rows = [_row(e, s) for e in EXPIRIES + [DECOY_EXPIRY] for s in STRIKES]
    rows.append(_row(DECOY_EXPIRY, "100", single_sided=True))
    (day / "AAA.json").write_text(json.dumps(rows))
    (day / "BBB.json").write_text(json.dumps([_row(EXPIRIES[0], "100")]))
    return str(base)


@pytest.fixture(scope="module")
def ohlc(spark):
    # AAA has an as-of close (latest <= ingest must win; future row ignored);
    # BBB has none -> its mark is unknown and the symbol is skipped, the
    # reference's per-file failure path (transform-load.2025-08-19.rkt:163-169).
    return spark.createDataFrame(
        [
            ("AAA", dt.date(2025, 8, 10), Decimal("90.000")),
            ("AAA", dt.date(2025, 8, 18), Decimal("100.000")),
            ("AAA", dt.date(2025, 8, 20), Decimal("999.000")),
        ],
        OHLC,
    )


def test_chain_day_selection(spark, raw_zone, ohlc):
    from oic_options_chains_spark.pipelines.chains_raw import chain_day

    out = chain_day(spark, raw_zone, ohlc, INGEST).cache()
    rows = out.collect()

    # 4 winning expirations x 5 winning strikes x 2 sides, AAA only
    assert {r.act_symbol for r in rows} == {"AAA"}
    assert len(rows) == 40
    assert {r.expiration.isoformat() for r in rows} == set(EXPIRIES)
    assert {r.strike for r in rows} == {s.quantize(Decimal("0.001")) for s in WINNING_STRIKES}
    assert {r.call_put for r in rows} == {"Call", "Put"}

    call = next(r for r in rows if r.call_put == "Call")
    assert call.date == INGEST
    assert call.vol == Decimal("0.3456")  # ivint / 100
    assert call.theta == Decimal("-0.0567")  # trunc toward zero, not -0.0568
    assert call.delta == Decimal("0.5432")
    assert call.model_value == Decimal("1.300")  # 2025 era carries theoprice
    assert call.bid == Decimal("1.250")


def test_chain_day_all_options(spark, raw_zone, ohlc):
    from oic_options_chains_spark.pipelines.chains_raw import chain_day

    out = chain_day(spark, raw_zone, ohlc, INGEST, all_options=True)
    # every double-sided row of both symbols, no selection
    assert out.count() == (len(EXPIRIES + [DECOY_EXPIRY]) * len(STRIKES) + 1) * 2


def test_chain_day_pre_model_value_era(spark, raw_zone, ohlc):
    from oic_options_chains_spark.parse.eras import ERAS
    from oic_options_chains_spark.pipelines.chains_raw import chain_day

    era_2024 = next(e for e in ERAS if e.name == "2024-04-26")
    out = chain_day(spark, raw_zone, ohlc, INGEST, era=era_2024)
    assert out.filter(out.model_value.isNotNull()).count() == 0


def test_append_day_idempotent(spark, raw_zone, ohlc, tmp_path):
    from oic_options_chains_spark.pipelines.chains_raw import chain_day
    from oic_options_chains_spark.schemas import OPTION_CHAIN_PK
    from oic_options_chains_spark.sources.warehouse import append_day, read_table

    table = str(tmp_path / "option_chain")
    day = chain_day(spark, raw_zone, ohlc, INGEST)
    append_day(spark, table, day, OPTION_CHAIN_PK)
    first = read_table(spark, table).count()
    append_day(spark, table, day, OPTION_CHAIN_PK)  # replay: a no-op (T4)
    assert read_table(spark, table).count() == first == 40


def test_compact_partition(spark, raw_zone, ohlc, tmp_path):
    import glob

    from oic_options_chains_spark.pipelines.chains_raw import chain_day
    from oic_options_chains_spark.schemas import OPTION_CHAIN_PK
    from oic_options_chains_spark.sources.warehouse import (
        append_day,
        compact_partition,
        read_table,
    )

    table = str(tmp_path / "chain")
    day = chain_day(spark, raw_zone, ohlc, INGEST).cache()
    # two incremental appends (as a micro-batched day would) -> small files
    append_day(spark, table, day.filter(day.call_put == "Call"), OPTION_CHAIN_PK)
    append_day(spark, table, day, OPTION_CHAIN_PK)
    part = f"{table}/date={INGEST.isoformat()}"
    assert len(glob.glob(f"{part}/*.parquet")) > 1
    before = sorted(map(tuple, read_table(spark, table).collect()))

    compact_partition(spark, table, INGEST.isoformat(), cluster_by=["act_symbol"])
    assert len(glob.glob(f"{part}/*.parquet")) == 1
    after = sorted(map(tuple, read_table(spark, table).collect()))
    assert before == after


def test_chain_day_ties_across_symbols(spark, tmp_path):
    """Exact rows over two symbols with different marks and grids. AAA's
    2025-09-01/09-03 straddle the +2-week target and its 69/71 the 0.70 x
    100 target: the earlier expiry and the smaller strike win (the
    reference's first-in-parse-order fold). 09-16 wins the three later
    targets, 75 wins 0.75-0.875 (87.5 is a 75/100 tie). BBB has its own
    mark and a different strike grid per expiration; CCC has no mark."""
    from oic_options_chains_spark.pipelines.chains_raw import chain_day

    grids = {
        "AAA": {e: ["69", "71", "75", "100", "130", "200"]
                for e in ("2025-09-01", "2025-09-03", "2025-09-16")},
        "BBB": {
            "2025-08-20": ["40", "50", "60", "100"],
            "2025-09-30": ["40", "50", "60", "100"],
            "2025-10-20": ["45", "55"],
            "2025-12-31": ["50"],
        },
        "CCC": {"2025-09-02": ["100"]},
    }
    day = tmp_path / INGEST.isoformat()
    day.mkdir()
    for sym, grid in grids.items():
        rows = [_row(e, s) for e, strikes in grid.items() for s in strikes]
        (day / f"{sym}.json").write_text(json.dumps(rows))
    ohlc = spark.createDataFrame(
        [
            ("AAA", dt.date(2025, 8, 18), Decimal("100.000")),
            ("BBB", dt.date(2025, 8, 18), Decimal("50.000")),
        ],
        OHLC,
    )

    got = sorted(
        (r.act_symbol, r.expiration.isoformat(), r.strike, r.call_put)
        for r in chain_day(spark, str(tmp_path), ohlc, INGEST).collect()
    )
    winners = {
        "AAA": {e: ["69", "75", "100", "130"] for e in ("2025-09-01", "2025-09-16")},
        "BBB": {
            "2025-08-20": ["40", "50", "60"],
            "2025-09-30": ["40", "50", "60"],
            "2025-10-20": ["45", "55"],
        },
    }
    want = sorted(
        (sym, e, Decimal(s).quantize(Decimal("0.001")), side)
        for sym, grid in winners.items()
        for e, strikes in grid.items()
        for s in strikes
        for side in ("Call", "Put")
    )
    assert got == want


def test_corrupt_json_file_is_tolerated(spark, ohlc, tmp_path):
    """A malformed chain file or row must not fail the day (T5): PERMISSIVE
    JSON parsing yields null-field rows, which the both-sides filter drops;
    an unreadable expiration date or a NULL strike drops only its row, with
    or without selection (a NULL strike must not win the nearest-strike
    targets of its expiry)."""
    from oic_options_chains_spark.pipelines.chains_raw import chain_day

    day = tmp_path / INGEST.isoformat()
    day.mkdir()
    bad_date = _row(EXPIRIES[0], "90")
    bad_date["expirationdate"] = "garbage"
    no_strike = _row(EXPIRIES[0], "90")
    no_strike["strike"] = None
    rows = [_row(EXPIRIES[0], "100"), _row(EXPIRIES[1], "100"), bad_date, no_strike]
    (day / "AAA.json").write_text(json.dumps(rows))
    (day / "EVIL.json").write_text("{ not json at all")
    (day / "EMPTY.json").write_text("[]")

    out = chain_day(spark, str(tmp_path), ohlc, INGEST)
    got = sorted((r.act_symbol, r.expiration.isoformat(), r.call_put) for r in out.collect())
    assert got == [
        ("AAA", e, side) for e in EXPIRIES[:2] for side in ("Call", "Put")
    ]
    assert {r.strike for r in out.collect()} == {Decimal("100.000")}
    # without selection too: no row with a NULL key reaches the table
    every = chain_day(spark, str(tmp_path), ohlc, INGEST, all_options=True)
    assert sorted((r.expiration.isoformat(), r.strike, r.call_put) for r in every.collect()) == [
        (e, Decimal("100.000"), side) for e in EXPIRIES[:2] for side in ("Call", "Put")
    ]
