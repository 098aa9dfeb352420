"""Incremental ingestion tests (T3/T4): AvailableNow drains only new
files; replays and crash-retries are no-ops on the table."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest

from oic_options_chains_spark.schemas import OHLC

DAY1 = dt.date(2025, 8, 18)
DAY2 = dt.date(2025, 8, 19)


def _rows() -> str:
    return json.dumps(
        [
            {
                "expirationdate": "2025-09-02",
                "strike": 100.0,
                "call_optionsymbol": "C1", "put_optionsymbol": "P1",
                "call_bid": 1.0, "call_ask": 1.1, "call_theoprice": 1.05,
                "call_ivint": 30.0, "call_delta": 0.5, "call_gamma": 0.01,
                "call_theta": -0.05, "call_vega": 0.2, "call_rho": 0.04,
                "put_bid": 2.0, "put_ask": 2.1, "put_theoprice": 2.05,
                "put_ivint": 31.0, "put_delta": -0.5, "put_gamma": 0.01,
                "put_theta": -0.04, "put_vega": 0.2, "put_rho": -0.04,
            }
        ]
    )


@pytest.fixture()
def ohlc(spark):
    return spark.createDataFrame(
        [
            ("AAA", dt.date(2025, 8, 15), Decimal("100.000")),
            ("NEW", dt.date(2025, 8, 15), Decimal("100.000")),
        ],
        OHLC,
    )


def test_available_now_incremental(spark, ohlc, tmp_path):
    from oic_options_chains_spark.sources.warehouse import read_table
    from oic_options_chains_spark.streaming.incremental import (
        run_incremental_chain_load,
    )

    base = tmp_path / "raw"
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for day in (DAY1, DAY2):
        (base / day.isoformat()).mkdir(parents=True)
        (base / day.isoformat() / "AAA.json").write_text(_rows())

    run_incremental_chain_load(spark, str(base), table, ohlc, ckpt)
    first = read_table(spark, table)
    assert first.count() == 4  # 1 strike x 2 sides x 2 days
    assert {r.date for r in first.select("date").distinct().collect()} == {DAY1, DAY2}

    # drained checkpoint: a second run sees no new files, appends nothing
    run_incremental_chain_load(spark, str(base), table, ohlc, ckpt)
    assert read_table(spark, table).count() == 4

    # a late-arriving file (new symbol, old date) is picked up incrementally
    (base / DAY2.isoformat() / "NEW.json").write_text(_rows())
    run_incremental_chain_load(spark, str(base), table, ohlc, ckpt)
    after = read_table(spark, table)
    assert after.count() == 6
    # T4: replaying the whole zone from a FRESH checkpoint double-delivers
    # every file, but the conflict-ignore append keeps the table identical
    run_incremental_chain_load(spark, str(base), table, ohlc, str(tmp_path / "ckpt2"))
    assert read_table(spark, table).count() == 6


def test_resume_from_symbol_range(spark, ohlc, tmp_path):
    from oic_options_chains_spark.sources.warehouse import read_table
    from oic_options_chains_spark.streaming.incremental import (
        run_incremental_chain_load,
    )

    base = tmp_path / "raw"
    table = str(tmp_path / "table")
    day = base / DAY1.isoformat()
    day.mkdir(parents=True)
    (day / "AAA.json").write_text(_rows())
    (day / "NEW.json").write_text(_rows())

    # -f NEW: the resume run loads only symbols >= NEW
    run_incremental_chain_load(
        spark, str(base), table, ohlc, str(tmp_path / "ckpt"), first_symbol="NEW"
    )
    syms = {r.act_symbol for r in read_table(spark, table).collect()}
    assert syms == {"NEW"}


def test_per_batch_recon_metrics(spark, ohlc, tmp_path):
    from oic_options_chains_spark.sources.warehouse import read_table
    from oic_options_chains_spark.streaming.incremental import (
        run_incremental_chain_load,
    )

    base = tmp_path / "raw"
    table = str(tmp_path / "table")
    metrics = str(tmp_path / "metrics")
    day = base / DAY1.isoformat()
    day.mkdir(parents=True)
    (day / "AAA.json").write_text(_rows())

    run_incremental_chain_load(
        spark, str(base), table, ohlc, str(tmp_path / "c1"), metrics_dir=metrics
    )
    m1 = spark.read.parquet(metrics).collect()
    assert len(m1) == 1
    assert m1[0].attempted == m1[0].loaded == read_table(spark, table).count()
    assert m1[0].failed == 0

    # full replay from a fresh checkpoint: every attempted row is a
    # conflict-ignore no-op, surfaced as failed (the reference's
    # ON CONFLICT counter), loaded == 0
    run_incremental_chain_load(
        spark, str(base), table, ohlc, str(tmp_path / "c2"), metrics_dir=metrics
    )
    replay = sorted(
        spark.read.parquet(metrics).collect(), key=lambda r: r.loaded
    )
    assert len(replay) == 2
    assert replay[0].loaded == 0 and replay[0].failed == replay[0].attempted


def test_available_now_vol_pages(spark, tmp_path):
    from oic_options_chains_spark.pipelines.volatility import vol_history
    from oic_options_chains_spark.sources.warehouse import read_table
    from oic_options_chains_spark.streaming.incremental import (
        run_incremental_vol_load,
    )
    from tests.fixtures.html_vol import build_page

    base = tmp_path / "raw"
    table = str(tmp_path / "vol_table")
    ckpt = str(tmp_path / "vol_ckpt")
    day = base / "2025-08-19"
    day.mkdir(parents=True)
    (day / "AAA.html").write_text(build_page("2025-08-19"))
    (day / "BAD.html").write_text("<html>No Options found</html>")

    run_incremental_vol_load(spark, str(base), table, ckpt)
    first = read_table(spark, table)
    assert first.count() == 1
    assert first.collect()[0].act_symbol == "AAA"

    # new symbol arrives late; only it is processed, replay stays no-op
    (day / "ZZZ.html").write_text(build_page("2025-08-19"))
    run_incremental_vol_load(spark, str(base), table, ckpt)
    assert read_table(spark, table).count() == 2
    run_incremental_vol_load(spark, str(base), table, str(tmp_path / "ckpt_fresh"))
    assert read_table(spark, table).count() == 2

    # each micro-batch ran the batch transform: same rows as vol_history
    batch = vol_history(spark, str(base), dt.date(2025, 8, 19))
    streamed = read_table(spark, table).select(*batch.columns)
    assert sorted(streamed.collect()) == sorted(batch.collect())


def test_available_now_weeklies(spark, tmp_path):
    from oic_options_chains_spark.pipelines.weeklies import (
        load_weeklies,
        parse_weeklies_csv,
    )
    from oic_options_chains_spark.sources.warehouse import read_table
    from oic_options_chains_spark.streaming.incremental import (
        run_incremental_weeklies_load,
    )

    def batch_rows(day):
        path = str(csv_dir / f"weeklyoptions.{day.isoformat()}.csv")
        return parse_weeklies_csv(spark, path, day)

    def streamed(expected):
        got = read_table(spark, table).select(*expected.columns)
        return sorted(got.collect()) == sorted(expected.collect())

    csv_dir = tmp_path / "weeklies"
    csv_dir.mkdir()
    table = str(tmp_path / "weekly_table")
    ckpt = str(tmp_path / "weekly_ckpt")
    (csv_dir / "weeklyoptions.2025-08-18.csv").write_text(
        "header,line,nope\nAAPL, Apple, 2024-01-05\nBRKB, Berkshire, 2023-06-02\n"
    )

    run_incremental_weeklies_load(spark, str(csv_dir), table, ckpt)
    state = {r.act_symbol: r for r in read_table(spark, table).collect()}
    assert set(state) == {"AAPL", "BRK.B"}
    assert state["AAPL"].last_seen == dt.date(2025, 8, 18)
    # the micro-batch ran the batch parse: same rows as parse_weeklies_csv
    day1 = batch_rows(dt.date(2025, 8, 18))
    assert streamed(day1)

    # next day's file updates AAPL, adds MSFT, keeps BRK.B
    (csv_dir / "weeklyoptions.2025-08-19.csv").write_text(
        "AAPL, Apple, 2024-02-09\nMSFT, Microsoft, 2024-03-01\n"
    )
    run_incremental_weeklies_load(spark, str(csv_dir), table, ckpt)
    state = {r.act_symbol: r for r in read_table(spark, table).collect()}
    assert set(state) == {"AAPL", "BRK.B", "MSFT"}
    assert state["AAPL"].effective_date == dt.date(2024, 2, 9)
    assert state["AAPL"].last_seen == dt.date(2025, 8, 19)
    assert state["BRK.B"].last_seen == dt.date(2025, 8, 18)  # untouched
    assert streamed(load_weeklies(day1, batch_rows(dt.date(2025, 8, 19))))


def test_day_bound_raises_under_any_optimization_level(spark, monkeypatch):
    """The micro-batch day bound is a raise, not an assert, so it holds
    under ``python -O``: one day over the bound fails loudly; at the
    bound the days come back sorted."""
    import oic_options_chains_spark.streaming.incremental as inc

    batch = spark.createDataFrame(
        [(DAY2,), (DAY1,), (DAY2,)], "ingest_date date"
    )
    monkeypatch.setattr(inc, "_MAX_DAYS_PER_BATCH", 2)
    assert inc._distinct_days(batch, "ingest_date") == [DAY1, DAY2]
    monkeypatch.setattr(inc, "_MAX_DAYS_PER_BATCH", 1)
    with pytest.raises(ValueError, match="split the backfill"):
        inc._distinct_days(batch, "ingest_date")
