"""The paper's daily run, driven through the package's public functions.

One :class:`Warehouse` owns a run's table, export and snapshot
directories. ``load_day`` is one ingest day as the daily job runs it,
``replay_day`` re-runs a loaded day's idempotent loads, and ``restore``
reads the last snapshot back through the restore projection. Each call
into the package made by a load or a replay sits in a tracer span named
``<layer>.<call>``.

The output checks live here too; they run outside the timed region and
return a list of failure messages (empty when the outputs are right).
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from oic_options_chains_spark.pipelines.chains_raw import chain_day
from oic_options_chains_spark.pipelines.export import (
    dat_option_chain_projection,
    dolt_option_chain_projection,
    dolt_volatility_projection,
    restore_option_chain_projection,
    write_csv_by_date,
)
from oic_options_chains_spark.pipelines.universe import symbol_universe
from oic_options_chains_spark.pipelines.volatility import vol_history, vol_history_quarantine
from oic_options_chains_spark.pipelines.weeklies import load_weeklies, parse_weeklies_csv
from oic_options_chains_spark.schemas import OPTION_CHAIN_PK, VOLATILITY_HISTORY_PK, WEEKLY
from oic_options_chains_spark.sources.snapshots import commit_tables, read_table_snapshot
from oic_options_chains_spark.sources.warehouse import (
    append_day,
    overwrite_table,
    read_table,
    table_exists,
)

from perfbench.gen import Day, RawZone

_CHAIN_SORT = ["act_symbol", "expiration", "strike", "call_put"]


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Warehouse:
    def __init__(self, spark, tracer, zone: RawZone, root: str) -> None:
        self.spark = spark
        self.tr = tracer
        self.zone = zone
        self.oc = os.path.join(root, "warehouse", "option_chain")
        self.vh = os.path.join(root, "warehouse", "volatility_history")
        self.weekly = os.path.join(root, "warehouse", "weekly")
        self.exports = os.path.join(root, "exports")
        self.snaps = os.path.join(root, "snapshots")
        self.ohlc = spark.read.parquet(zone.ohlc)
        self.holdings = spark.read.parquet(zone.holdings)
        self.quarantined: dict = {}
        self.universe: list[str] = []

    # -- timed operations ----------------------------------------------------

    def _chains(self, day: Day):
        tr = self.tr
        with tr.span("chains_raw.chain_day") as s:
            s["rows_in"] = day.raw_option_rows
            t0 = time.perf_counter()
            chain = chain_day(self.spark, self.zone.chains_dir, self.ohlc, day.date)
            s["plan_s"] = time.perf_counter() - t0
            chain = tr.boundary(chain)
        if tr.enabled:
            with tr.span("bench.count"):
                s["rows_out"] = chain.count()
        return chain

    def _vol(self, day: Day):
        tr = self.tr
        with tr.span("parse.vol_history") as s:
            s.update(page_bytes=day.vol_bytes, pages=len(self.zone.symbols))
            vol = tr.boundary(vol_history(self.spark, self.zone.vol_dir, day.date))
        # the quarantine re-reads the same pages: its Python bytes count
        # towards parse.passes, its pages do not
        with tr.span("parse.quarantine") as s:
            bad = vol_history_quarantine(self.spark, self.zone.vol_dir, day.date).collect()
            s["quarantined"] = len(bad)
        return vol, bad

    def _append(self, table: str, df, pk: list[str], **kw) -> None:
        counts: dict = {}
        if self.tr.enabled:  # bookkeeping outside the layer's span
            with self.tr.span("bench.count"):
                files, size = tree_bytes(table)
                counts.update(rows_offered=df.count(), rows_appended=-_rows(self.spark, table))
        with self.tr.span("warehouse.append_day") as s:
            append_day(self.spark, table, df, pk, **kw)
        if self.tr.enabled:
            with self.tr.span("bench.count"):
                files_after, size_after = tree_bytes(table)
                counts.update(files_written=files_after - files, bytes_written=size_after - size)
                counts["rows_appended"] += _rows(self.spark, table)
            s.update(counts)

    def load_day(self, day: Day) -> None:
        spark, tr = self.spark, self.tr
        with tr.span("universe.symbol_universe"):
            self.universe = [r.symbol for r in symbol_universe(self.holdings).collect()]
        chain = self._chains(day)
        vol, bad = self._vol(day)
        self.quarantined[day.date] = len(bad)
        with tr.span("weeklies.load"):
            batch = parse_weeklies_csv(spark, day.weeklies_csv, day.date)
            target = (
                read_table(spark, self.weekly)
                if table_exists(self.weekly)
                else spark.createDataFrame([], WEEKLY)
            )
            overwrite_table(spark, self.weekly, load_weeklies(target, batch))
        self._append(self.oc, chain, OPTION_CHAIN_PK, cluster_by=["act_symbol"])
        self._append(self.vh, vol, VOLATILITY_HISTORY_PK)
        d = F.lit(day.date.isoformat()).cast("date")
        day_oc = read_table(spark, self.oc).filter(F.col("date") == d)
        day_vh = read_table(spark, self.vh).filter(F.col("date") == d)
        for kind, table, proj, src, sort in (
            ("dolt", "option_chain", dolt_option_chain_projection, day_oc, _CHAIN_SORT),
            ("dolt", "volatility_history", dolt_volatility_projection, day_vh, ["act_symbol"]),
            ("dat", "option_chain", dat_option_chain_projection, day_oc, _CHAIN_SORT),
        ):
            out = self._export_dir(kind, table, day)
            with tr.span(f"export.{kind}_{table}") as s:
                write_csv_by_date(proj(src), out, sort)
            if tr.enabled:
                s["rows"], s["bytes"] = _csv_rows(out), tree_bytes(out)[1]
        with tr.span("snapshots.commit_tables") as s:
            entry = commit_tables(
                {"option_chain": day_oc, "volatility_history": day_vh},
                self.snaps, day.date.isoformat(), committed_at=f"{day.date.isoformat()}T00:00:00+00:00",
            )
            s["bytes"] = sum(tree_bytes(os.path.join(self.snaps, t["data_dir"]))[1] for t in entry["tables"].values())

    def replay_day(self, day: Day) -> None:
        """Re-run a loaded day's loads; every row must anti-join away."""
        chain = self._chains(day)
        vol, _bad = self._vol(day)
        self._append(self.oc, chain, OPTION_CHAIN_PK, cluster_by=["act_symbol"])
        self._append(self.vh, vol, VOLATILITY_HISTORY_PK)

    def restore(self, day: Day) -> None:
        """Snapshot -> restore projection -> conflict-ignore append. No span,
        boundary or count sits inside it, in traced runs too, so its wall
        time is the program's alone."""
        back = read_table_snapshot(self.spark, self.snaps, "option_chain", day.date.isoformat())
        append_day(self.spark, self.oc, restore_option_chain_projection(back), OPTION_CHAIN_PK,
                   cluster_by=["act_symbol"])

    def _export_dir(self, kind: str, table: str, day: Day) -> str:
        return os.path.join(self.exports, kind, table, day.date.isoformat())

    # -- checks (untimed) ----------------------------------------------------

    def table_rows(self) -> tuple[int, int]:
        return _rows(self.spark, self.oc), _rows(self.spark, self.vh)

    def check_day(self, day: Day) -> list[str]:
        spark, errs = self.spark, []
        d = F.lit(day.date.isoformat()).cast("date")
        oc = read_table(spark, self.oc).filter(F.col("date") == d)
        quoted = F.lit(True)  # rows the dat export keeps: every quote and greek present
        for c in ("bid", "ask", "vol", "delta", "gamma", "theta", "vega", "rho"):
            quoted = quoted & F.col(c).isNotNull()
        n, n_pk, complete = oc.agg(
            F.count(F.lit(1)), F.count_distinct(*OPTION_CHAIN_PK), F.count(F.when(quoted, 1))
        ).first()
        if n != day.chain_rows:
            errs.append(f"{day.date} option_chain rows {n} != expected {day.chain_rows}")
        if n_pk != n:
            errs.append(f"{day.date} option_chain PK not unique ({n_pk} keys, {n} rows)")
        vh = read_table(spark, self.vh).filter(F.col("date") == d)
        n, n_pk = vh.agg(F.count(F.lit(1)), F.count_distinct(*VOLATILITY_HISTORY_PK)).first()
        if n != day.vol_rows or n_pk != n:
            errs.append(f"{day.date} volatility_history rows {n}/{n_pk} != expected {day.vol_rows}")
        if self.quarantined.get(day.date) != day.bad_vol_pages:
            errs.append(f"{day.date} quarantined {self.quarantined.get(day.date)} != {day.bad_vol_pages} bad pages")
        expected_universe = self.zone.universe
        if self.universe != expected_universe:
            errs.append(f"{day.date} universe {len(self.universe)} symbols != expected {len(expected_universe)}")
        weekly = read_table(spark, self.weekly).count()
        if weekly != day.weekly_symbols:
            errs.append(f"{day.date} weekly rows {weekly} != expected {day.weekly_symbols}")
        for kind, table, want in (
            ("dolt", "option_chain", day.chain_rows),
            ("dolt", "volatility_history", day.vol_rows),
            ("dat", "option_chain", complete),
        ):
            got = _csv_rows(self._export_dir(kind, table, day))
            if got != want:
                errs.append(f"{day.date} {kind} {table} export rows {got} != table rows {want}")
        return errs


def _rows(spark, table: str) -> int:
    return read_table(spark, table).count() if table_exists(table) else 0


def _csv_rows(out_dir: str) -> int:
    """Data lines across a CSV export (one header line per file)."""
    n = 0
    for path in glob.glob(os.path.join(out_dir, "__pdate=*", "*.csv")):
        with open(path, "rb") as f:
            n += max(0, sum(1 for _ in f) - 1)
    return n

