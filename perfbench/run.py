"""Benchmark of the paper's daily run and of the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload daily_json --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``daily_json``: one 2025-08-19-era day of ``DAY_SYMBOLS`` symbols as
  the daily job runs it: the universe, JSON chains, vol pages +
  quarantine, weeklies, both loads, the dolt/dat exports and a snapshot
  commit. Then the day is replayed and its snapshot restored. Set-up
  first loads an untimed warm-up day of ``WARM_SYMBOLS`` symbols.
- ``query_mix``: registered query keys as one closed-loop client over
  fixed generated tables of scale ``QUERY_SCALE``, in an order the seed
  shuffles, each result fully materialized (noop sink), in whole rounds
  until ``--seconds`` have passed (at least ``MIN_ROUNDS``). Set-up
  collects and hashes each key's result once; after the timed rounds
  those hashes are checked against the DuckDB oracles.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a run whose
package calls are wrapped in spans. A readable summary goes to standard
error. Each run works in a fresh directory under ``.perfbench/runs``
(warehouse, exports, snapshots, Spark local dirs, epoch cache) and
deletes it at the end; a provenance record is appended to
``.perfbench/records.jsonl`` and traced spans go to
``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()

# Input sizes. Every run starts and warms a fresh JVM (35-45 s on 4 cores)
# and all runs share a fixed time budget, which leaves a run ~25 s of
# timed work and checks. On 4 cores a day costs ~14 s + 0.09 s per
# symbol and its replay ~8 s + 0.065 s per symbol; a round of the mix
# costs 8.6 s at scale 0.1, 10 s at 0.3 and 12 s at 1.0, where the DuckDB
# oracle of q_kcore alone adds 12 s to the run.
DAY_SYMBOLS = 24
WARM_SYMBOLS = 2
QUERY_SCALE = 0.3  # 1.0 = sf0.1: 150k orders / 600k lineitem
# The query tables stand for one fixed warehouse: the seed shuffles a
# round's order only, so that no seed changes how much work a query does.
QUERY_TABLES_SEED = 1
MIN_ROUNDS = 2


def isolate(work: str) -> None:
    """Point every scratch location the program uses into ``work``."""
    for sub in ("spark-local", "tmp", "cache"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CACHE_DIR=os.path.join(work, "cache"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=os.path.join(work, "tmp"),
        # no hsperfdata files under the system temp dir, for every JVM
        JAVA_TOOL_OPTIONS=" ".join(filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"))),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


class Run:
    """State of one run: counts, timings and the failure log."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.spark = None
        self.tracer = None
        self.sampler = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.session_s = 0.0
        self.op_s: list[float] = []  # a day's load, or a round of the query mix
        self.replay_s: list[float] = []  # a loaded day's replay
        self.query_s: list[float] = []  # one query of a timed round
        self.query_keys: list[str] = []  # the key of each query_s sample
        self.rows = 0  # raw option rows loaded, or query result rows
        self.extra: dict[str, float] = {}

    def op(self, what: str, fn, *a, check=None):
        """Run one timed operation, then its untimed output ``check``
        (returns failure messages). Returns (seconds or None, result);
        the operation fails if it raises or its check fails."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn(*a)
        except Exception as exc:  # noqa: BLE001 — a run reports failures, never dies
            self.failed += 1
            self.failures.append(f"{what}: {type(exc).__name__}: {str(exc)[:400]}")
            return None, None
        secs = time.perf_counter() - t0
        errs = []
        if check is not None:
            try:
                errs = check(res)
            except Exception as exc:  # noqa: BLE001
                errs = [f"check raised {type(exc).__name__}: {str(exc)[:400]}"]
            self.extra["check_s"] = self.extra.get("check_s", 0.0) + time.perf_counter() - t0 - secs
        if errs:
            self.failed += 1
            self.failures.extend(f"{what}: {e}" for e in errs)
        return secs, res

    def setup(self, warm) -> None:
        """Session start (a fresh JVM) plus the workload's warm-up."""
        from pyspark import SparkContext

        from oic_options_chains_spark.session import get_spark
        from perfbench.trace import RssSampler

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.sampler = RssSampler(SparkContext._gateway.proc.pid).start()
        warm(self.spark)
        self.setup_s = time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session, the sampler and the JVM, and wait for them."""
        if self.sampler is not None:
            self.sampler.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}",
        }
        if self.traced:  # keep every job, stage and SQL execution of the run
            for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
                conf[k] = "100000"
        return conf


def day_workload(run: Run) -> None:
    """daily_json: load the day, replay it, restore its snapshot."""
    from perfbench import gen
    from perfbench.daily import Warehouse, tree_bytes
    from perfbench.trace import Tracer

    args, work = run.args, run.work
    t_gen = time.perf_counter()
    zone = gen.raw_zone(os.path.join(work, "raw"), args.seed, 1, DAY_SYMBOLS)
    warm_zone = gen.raw_zone(os.path.join(work, "raw-warm"), args.seed + 1, 1, WARM_SYMBOLS)

    def warm(spark) -> None:
        # a fresh JVM's first day costs ~2.5x a warm one and its time
        # spreads far more between runs, so an untimed day absorbs it
        wh = Warehouse(spark, Tracer(spark, "warm", False), warm_zone, os.path.join(work, "warm"))
        for day in warm_zone.days:
            wh.load_day(day)

    run.extra["gen_s"] = time.perf_counter() - t_gen
    run.setup(warm)
    spark = run.spark
    tr = run.tracer = Tracer(spark, run.run_id, run.traced)
    wh = Warehouse(spark, tr, zone, os.path.join(work, "run"))

    def spanned(name, fn):
        def call(*a):
            with tr.span(name, phase=name):
                return fn(*a)
        return call

    for day in zone.days:
        secs, _ = run.op(f"load {day.date}", spanned("day", wh.load_day), day, check=lambda _r, d=day: wh.check_day(d))
        if secs is not None:
            run.op_s.append(secs)
            run.rows += day.raw_option_rows
    tables = wh.table_rows()

    def unchanged(_r):
        now = wh.table_rows()
        return [] if now == tables else [f"tables went from {tables} to {now} rows"]

    for day in zone.days:
        secs, _ = run.op(f"replay {day.date}", spanned("replay", wh.replay_day), day, check=unchanged)
        if secs is not None:
            run.replay_s.append(secs)
    secs, _ = run.op("restore", wh.restore, zone.days[-1], check=unchanged)
    run.extra["restore_s"] = secs or 0.0
    stored = sum(tree_bytes(os.path.join(work, "run", d))[1] for d in ("warehouse", "snapshots"))
    run.extra["stored_bytes_per_row"] = stored / max(1, tables[0])


def query_workload(run: Run) -> None:
    """One op is a round of the mix: every key once, in a seeded order."""
    from perfbench import gen
    from perfbench.mix import KEYS, Oracle, result_hash, run_query
    from perfbench.trace import Tracer

    args, work = run.args, run.work
    sf = os.path.join(work, "tables")
    gen.query_tables(sf, QUERY_TABLES_SEED, scale=QUERY_SCALE)
    got: dict[str, tuple[str, int]] = {}

    def warm(spark) -> None:
        # One untimed pass over the keys that is also the Spark half of the
        # output check: each key is collected and hashed, and the served
        # keys build their epoch caches. The oracle half runs after the
        # timed rounds, so no DuckDB work overlaps them.
        for key in KEYS:
            got[key] = result_hash(spark, sf, key)

    run.setup(warm)
    spark = run.spark
    tr = run.tracer = Tracer(spark, run.run_id, run.traced)
    order = list(KEYS)
    rng = random.Random(args.seed)

    def one_round() -> None:
        rng.shuffle(order)
        for key in order:
            run.query_s.append(run_query(spark, tr, sf, key))
            run.query_keys.append(key)

    # Whole rounds until --seconds have passed, and at least MIN_ROUNDS:
    # the JVM is still warming over the first rounds after set-up, so the
    # reported times are medians over rounds, not one round's.
    t_start = time.perf_counter()
    while len(run.op_s) < MIN_ROUNDS or time.perf_counter() - t_start < args.seconds:
        secs, _ = run.op(f"round {len(run.op_s) + 1}", one_round)
        if secs is None:
            break
        run.op_s.append(secs)
    oracle = Oracle(sf)
    wrong = [f"{key}: {err}" for key in KEYS if (err := oracle.check(key, got[key]))]
    oracle.close()
    run.rows = sum(n for _h, n in got.values()) * len(run.op_s)
    if wrong:  # every round ran every key
        run.failed += len(run.op_s)
        run.failures += wrong


WORKLOADS = {"daily_json": day_workload, "query_mix": query_workload}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("oic_options_chains_spark", os.path.join("tests", "fixtures")):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found; run from the repository root", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    from perfbench import report

    with open("/proc/loadavg") as f:
        load_start = f.read().strip()
    work = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    run = Run(args, work)
    try:
        WORKLOADS[args.workload](run)
        if run.traced:
            run.tracer.harvest()
        run.sampler.sample()
        run.extra["peak_jvm_rss_mb"] = run.sampler.peak_root_bytes / 2**20
        rec = report.record(ROOT, run, load_start, run.sampler.peak_bytes)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    report.save(ROOT, run, rec)
    print(report.summary(rec), file=sys.stderr)
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
