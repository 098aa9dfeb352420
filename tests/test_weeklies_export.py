"""Tests for the weeklies upsert pipeline (K3) and export/restore
projections (K4/K6)."""

from __future__ import annotations

import datetime as dt
import glob
from decimal import Decimal

import pytest

from oic_options_chains_spark.schemas import OPTION_CHAIN, WEEKLY

FILE_DATE = dt.date(2025, 8, 19)

OCC_CSV = """\
New York Stock Exchange weekly options as of 2025-08-19
act_symbol,name,effective_date,flags
AAPL , Apple Inc , 2024-01-05 , x
BRKB , Berkshire , 2023-06-02 , x
MSFT , Microsoft , 2024-02-09 , x
MSFT , Microsoft dup , 2024-03-01 , x
garbage line without commas
"""


@pytest.fixture(scope="module")
def weekly_batch(spark, tmp_path_factory):
    from oic_options_chains_spark.pipelines.weeklies import parse_weeklies_csv

    path = tmp_path_factory.mktemp("weeklies") / f"weeklyoptions.{FILE_DATE}.csv"
    path.write_text(OCC_CSV)
    return parse_weeklies_csv(spark, str(path), FILE_DATE).cache()


def test_parse_weeklies_csv(weekly_batch):
    rows = {r.act_symbol: r for r in weekly_batch.collect()}
    # preamble/header/garbage rows dropped, fields trimmed, alias applied
    assert set(rows) == {"AAPL", "BRK.B", "MSFT"}
    assert rows["BRK.B"].effective_date == dt.date(2023, 6, 2)
    # duplicate symbol: latest effective_date wins deterministically
    assert rows["MSFT"].effective_date == dt.date(2024, 3, 1)
    assert all(r.last_seen == FILE_DATE for r in rows.values())


def test_load_weeklies_upsert(spark, weekly_batch):
    from oic_options_chains_spark.pipelines.weeklies import load_weeklies

    target = spark.createDataFrame(
        [
            ("AAPL", dt.date(2020, 1, 3), dt.date(2025, 8, 12)),  # updated
            ("GONE", dt.date(2019, 5, 1), dt.date(2025, 8, 12)),  # retained
        ],
        WEEKLY,
    )
    merged = {r.act_symbol: r for r in load_weeklies(target, weekly_batch).collect()}
    assert set(merged) == {"AAPL", "BRK.B", "MSFT", "GONE"}
    assert merged["AAPL"].effective_date == dt.date(2024, 1, 5)
    assert merged["AAPL"].last_seen == FILE_DATE
    assert merged["GONE"].last_seen == dt.date(2025, 8, 12)  # untouched


@pytest.fixture(scope="module")
def chain_table(spark):
    def row(sym, strike, bid, theta, date):
        return (
            sym, dt.date(2025, 9, 19), Decimal(strike), "Call", date,
            Decimal(bid), Decimal(bid) + Decimal("0.10"), Decimal("0.3456"),
            Decimal("0.5"), Decimal("0.01"), Decimal(theta), Decimal("0.2"),
            Decimal("0.04"), None,
        )

    return spark.createDataFrame(
        [
            row("AAA", "100.000", "1.256", "-0.0567", dt.date(2025, 8, 18)),
            row("AAA", "90.000", "2.359", "-0.0412", dt.date(2025, 8, 18)),
            row("BBB", "50.000", "0.751", "-0.0333", dt.date(2025, 8, 19)),
        ],
        OPTION_CHAIN,
    )


def test_dolt_projection_truncates_and_sorts(chain_table):
    from oic_options_chains_spark.pipelines.export import (
        dolt_option_chain_projection,
    )

    rows = dolt_option_chain_projection(chain_table).collect()
    assert [r.strike for r in rows] == ["90.000", "100.000", "50.000"][:2] + ["50.000"]
    by_strike = {r.strike: r for r in rows}
    assert by_strike["100.000"].bid == "1.25"  # trunc(1.256, 2)
    assert by_strike["100.000"].theta == "-0.0567"
    assert rows[0].date == "2025-08-18"  # date stays a body column


def test_dat_projection_filters_nulls(spark, chain_table):
    from oic_options_chains_spark.pipelines.export import (
        dat_option_chain_projection,
    )
    from pyspark.sql import functions as F

    with_null = chain_table.withColumn(
        "vol",
        F.when(F.col("act_symbol") == "BBB", F.lit(None)).otherwise(F.col("vol")),
    )
    rows = dat_option_chain_projection(with_null).collect()
    assert {r.act_symbol for r in rows} == {"AAA"}  # BBB row lost its vol
    assert rows[0].bid == "2.359"  # dat export does NOT truncate


def test_restore_roundtrip(spark, chain_table, tmp_path):
    from oic_options_chains_spark.pipelines.export import (
        restore_option_chain_projection,
        write_csv_by_date,
    )
    from oic_options_chains_spark.schemas import OPTION_CHAIN_PK
    from oic_options_chains_spark.sources.warehouse import append_day, read_table

    out = str(tmp_path / "dolt_export")
    write_csv_by_date(
        restore_option_chain_projection(chain_table),
        out,
        ["act_symbol", "expiration", "strike", "call_put"],
    )
    files = glob.glob(f"{out}/__pdate=*/**.csv")
    assert len(files) == 2  # one folder per date

    back = (
        spark.read.option("header", True)
        .schema(OPTION_CHAIN)
        .csv(f"{out}/__pdate=*/")
    )
    table = str(tmp_path / "restored")
    append_day(spark, table, back, OPTION_CHAIN_PK)
    restored = read_table(spark, table)
    assert restored.count() == 3
    assert restored.filter(restored.model_value.isNotNull()).count() == 0
    # restore replay is as idempotent as the daily load (T4)
    append_day(spark, table, back, OPTION_CHAIN_PK)
    assert read_table(spark, table).count() == 3


def test_csv_export_files_sorted_by_sort_cols(spark, tmp_path):
    """Every per-date file comes out sorted by ``sort_cols``, also from a
    shuffled multi-partition frame: the partitioned write's own sort by
    date must not replace the caller's sort."""
    import csv
    import random

    from oic_options_chains_spark.pipelines.export import write_csv_by_date

    rows = [
        (d, f"S{i % 7:02d}", i)
        for d in ("2025-08-18", "2025-08-19")
        for i in range(60)
    ]
    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "date string, act_symbol string, k int").repartition(6)
    out = str(tmp_path / "sorted_export")
    write_csv_by_date(df, out, ["act_symbol", "k"])
    files = glob.glob(f"{out}/__pdate=*/*.csv")
    assert {f.split("__pdate=")[1][:10] for f in files} == {"2025-08-18", "2025-08-19"}
    for f in files:
        with open(f) as fh:
            keys = [(r["act_symbol"], int(r["k"])) for r in csv.DictReader(fh)]
        assert keys and keys == sorted(keys), f


def test_commit_restore_roundtrip(spark, chain_table, tmp_path):
    """The dump-dolt -> restore-from-dolt cycle: a day's tables committed
    in one snapshot, the chain read back through the restore projection
    into a fresh table equals the committed rows, and restoring into the
    original table appends nothing."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.pipelines.export import (
        restore_option_chain_projection,
    )
    from oic_options_chains_spark.schemas import (
        OPTION_CHAIN_PK,
        VOLATILITY_HISTORY,
        VOLATILITY_HISTORY_PK,
    )
    from oic_options_chains_spark.sources.snapshots import (
        commit_tables,
        read_table_snapshot,
    )
    from oic_options_chains_spark.sources.warehouse import append_day, read_table

    day = dt.date(2025, 8, 18)
    oc, vh = str(tmp_path / "option_chain"), str(tmp_path / "volatility_history")
    append_day(spark, oc, chain_table.filter(F.col("date") == day), OPTION_CHAIN_PK)
    vol_row = ("AAA", day, Decimal("0.2100")) + (None,) * (len(VOLATILITY_HISTORY) - 3)
    append_day(spark, vh, spark.createDataFrame([vol_row], VOLATILITY_HISTORY),
               VOLATILITY_HISTORY_PK)
    day_oc = read_table(spark, oc).filter(F.col("date") == day)
    day_vh = read_table(spark, vh).filter(F.col("date") == day)
    snaps = str(tmp_path / "snapshots")
    entry = commit_tables(
        {"option_chain": day_oc, "volatility_history": day_vh}, snaps, day.isoformat()
    )
    assert entry["tables"]["option_chain"]["rows"] == 2
    assert entry["tables"]["volatility_history"]["rows"] == 1

    cols = OPTION_CHAIN.names

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    back = read_table_snapshot(spark, snaps, "option_chain", day.isoformat())
    fresh = str(tmp_path / "restored")
    assert append_day(spark, fresh, restore_option_chain_projection(back),
                      OPTION_CHAIN_PK) == 2
    assert rows(read_table(spark, fresh)) == rows(back) == rows(day_oc)
    assert append_day(spark, oc, restore_option_chain_projection(back),
                      OPTION_CHAIN_PK) == 0


def test_weekly_table_persistence_roundtrip(spark, weekly_batch, tmp_path):
    from oic_options_chains_spark.pipelines.weeklies import load_weeklies
    from oic_options_chains_spark.sources.warehouse import (
        overwrite_table,
        read_table,
        table_exists,
    )

    table = str(tmp_path / "weekly")
    assert not table_exists(table)
    # bootstrap: first load IS the state
    overwrite_table(spark, table, weekly_batch)
    assert read_table(spark, table).count() == 3

    # merge a second batch against the PERSISTED state and overwrite
    import datetime as dt

    batch2 = spark.createDataFrame(
        [("NEWCO", dt.date(2025, 1, 10), dt.date(2025, 8, 20))],
        read_table(spark, table).schema,
    )
    merged = load_weeklies(read_table(spark, table), batch2)
    overwrite_table(spark, table, merged)
    rows = {r.act_symbol for r in read_table(spark, table).collect()}
    assert rows == {"AAPL", "BRK.B", "MSFT", "NEWCO"}


def test_training_shards_layout_and_order(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.sampling import global_shuffle
    from oic_options_chains_spark.pipelines.export import write_training_shards

    out = str(tmp_path / "shards")
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(500)], "doc_id bigint, text string")
    write_training_shards(docs, out, n_shards=4)

    # one directory per shard
    shards = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shards) == 4
    # read-back order within each shard matches the deterministic stream
    want = {
        (r["shard"], r["position"]): r["doc_id"]
        for r in global_shuffle(docs, "doc_id", 4).collect()
    }
    for d in shards:
        shard_no = int(d.split("=")[1])
        got = spark.read.parquet(os.path.join(out, d))
        rows = got.collect()  # parquet preserves file row order per file
        positions = [r["position"] for r in rows]
        assert positions == sorted(positions)
        for r in rows:
            assert want[(shard_no, r["position"])] == r["doc_id"]
    # total row conservation
    assert spark.read.parquet(out).count() == 500


def test_jsonl_shards_roundtrip_in_stream_order(spark, tmp_path):
    """JSONL shard export: shard membership and line order must replay
    the deterministic global shuffle, and records must parse back
    losslessly (the LLM-loader exchange format contract)."""
    import gzip
    import json
    import os

    from oic_options_chains_spark.operators.sampling import global_shuffle
    from oic_options_chains_spark.pipelines.export import write_jsonl_shards

    docs = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(60)], "doc_id long, text string"
    )
    out = str(tmp_path / "jsonl")
    write_jsonl_shards(docs, out, n_shards=4)

    expect = {}
    for r in global_shuffle(docs, "doc_id", 4).collect():
        expect.setdefault(r.shard, []).append((r.position, r.doc_id, r.text))
    for shard, rows in expect.items():
        rows.sort()
        d = os.path.join(out, f"shard={shard}")
        lines = []
        for name in sorted(os.listdir(d)):
            if name.startswith("part-"):
                with gzip.open(os.path.join(d, name), "rt") as fh:
                    lines += [json.loads(line) for line in fh]
        assert [(l["position"], l["doc_id"], l["text"]) for l in lines] == rows

    # byte-stable across re-runs: same membership, same order
    out2 = str(tmp_path / "jsonl2")
    write_jsonl_shards(docs, out2, n_shards=4)
    for shard in expect:
        a = sorted(os.listdir(os.path.join(out, f"shard={shard}")))
        b = sorted(os.listdir(os.path.join(out2, f"shard={shard}")))
        assert len(a) == len(b)
