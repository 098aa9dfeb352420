"""Metrics, provenance and the run record.

``end_to_end`` turns a run's timings into the untraced metrics;
``per_layer`` folds a traced run's spans into the layer metrics listed in
BENCHMARK.json. Layer figures are per timed operation of the workload
(per loaded day, or per round of the query mix) unless the name says
otherwise.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import subprocess

from perfbench.trace import LAYERS, SPARK_FIGURES


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _second(run) -> float:
    """daily_json's median replay, or query_mix's typical query: the
    geometric mean over keys of each key's median time. The keys' times
    differ tenfold, so a median pooled over all queries would sit in the
    gap between the fast and the slow keys and swing with one sample."""
    if run.replay_s:
        return _median(run.replay_s)
    by_key: dict[str, list[float]] = {}
    for key, secs in zip(run.query_keys, run.query_s):
        by_key.setdefault(key, []).append(secs)
    if not by_key:
        return 0.0
    return math.exp(statistics.fmean(math.log(_median(xs)) for xs in by_key.values()))


def end_to_end(run, peak_rss_bytes: int) -> dict[str, tuple[float, str]]:
    """Both workloads report every name. ``ops_per_min`` (days, or single
    queries) and ``rows_per_s`` divide by the same timed wall time as
    ``day_or_round_s_p50``."""
    busy = sum(run.op_s)
    n_ops = len(run.query_s) or len(run.op_s)
    return {
        "setup_s": (run.setup_s, "s"),
        "day_or_round_s_p50": (_median(run.op_s), "s"),
        "replay_or_query_s": (_second(run), "s"),
        "ops_per_min": (60.0 * n_ops / busy if busy else 0.0, "1/min"),
        "rows_per_s": (run.rows / busy if busy else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
        "ok_frac": (1.0 - run.failed / max(1, run.attempted), "ratio"),
    }


def per_layer(run) -> dict[str, tuple[float, str]]:
    tr = run.tracer
    spans = tr.spans
    selft = tr.self_times()
    n_ops = max(1, len(run.op_s))
    out: dict[str, tuple[float, str]] = {}

    def load(layer: str, name: str | None = None) -> list[dict]:
        return [
            s for s in spans
            if s["phase"] in ("day", "query") and s["name"].split(".")[0] == layer
            and (name is None or s["name"] == name)
        ]

    def total(ss: list[dict], key: str) -> float:
        return sum(s.get(key, 0) for s in ss)

    def self_s(ss: list[dict]) -> float:
        return sum(selft[s["id"]] for s in ss)

    out["session.start_s"] = (run.session_s, "s")
    out["universe.s"] = (self_s(load("universe")) / n_ops, "s")
    ch = load("chains_raw")
    rows_in, rows_out = total(ch, "rows_in"), total(ch, "rows_out")
    out["chains_raw.plan_s"] = (total(ch, "plan_s") / n_ops, "s")
    out["chains_raw.s"] = (self_s(ch) / n_ops, "s")
    out["chains_raw.rows_in"] = (rows_in / n_ops, "count")
    out["chains_raw.rows_out"] = (rows_out / n_ops, "count")
    out["chains_raw.keep_ratio"] = (rows_out / rows_in if rows_in else 0.0, "ratio")
    pa = load("parse")
    py_in = sum(s["spark"]["py_bytes_in"] for s in pa)
    page_bytes = total(pa, "page_bytes")
    out["parse.s"] = (self_s(pa) / n_ops, "s")
    out["parse.pages"] = (total(pa, "pages") / n_ops, "count")
    out["parse.quarantined"] = (total(pa, "quarantined") / n_ops, "count")
    out["parse.py_boot_s"] = (sum(s["spark"]["py_boot_s"] for s in pa) / n_ops, "s")
    out["parse.py_bytes_in"] = (py_in / n_ops, "B")
    out["parse.py_bytes_out"] = (sum(s["spark"]["py_bytes_out"] for s in pa) / n_ops, "B")
    out["parse.passes"] = (py_in / page_bytes if page_bytes else 0.0, "ratio")
    out["weeklies.s"] = (self_s(load("weeklies")) / n_ops, "s")
    wh = load("warehouse")
    offered, appended = total(wh, "rows_offered"), total(wh, "rows_appended")
    out["warehouse.append_s"] = (self_s(wh) / n_ops, "s")
    out["warehouse.rows_offered"] = (offered / n_ops, "count")
    out["warehouse.rows_appended"] = (appended / n_ops, "count")
    out["warehouse.append_ratio"] = (appended / offered if offered else 0.0, "ratio")
    out["warehouse.files_written"] = (total(wh, "files_written") / n_ops, "count")
    out["warehouse.bytes_written"] = (total(wh, "bytes_written") / n_ops, "B")
    def replay(layer: str) -> list[dict]:
        return [s for s in spans if s["phase"] == "replay" and s["name"].split(".")[0] == layer]

    n_replays = max(1, len(run.replay_s))
    out["chains_raw.replay_s"] = (self_s(replay("chains_raw")) / n_replays, "s")
    out["parse.replay_s"] = (self_s(replay("parse")) / n_replays, "s")
    out["warehouse.replay_append_s"] = (self_s(replay("warehouse")) / n_replays, "s")
    out["warehouse.replay_rows_appended"] = (total(replay("warehouse"), "rows_appended") / n_replays, "count")
    ex = load("export")
    out["export.s"] = (self_s(ex) / n_ops, "s")
    out["export.rows"] = (total(ex, "rows") / n_ops, "count")
    out["export.bytes"] = (total(ex, "bytes") / n_ops, "B")
    sn = load("snapshots")
    out["snapshots.commit_s"] = (self_s(sn) / n_ops, "s")
    out["snapshots.bytes"] = (total(sn, "bytes") / n_ops, "B")
    qp, qe = load("queries", "queries.plan"), load("queries", "queries.exec")
    out["queries.plan_s"] = (self_s(qp) / n_ops, "s")
    out["queries.plan_jobs"] = (sum(s["spark"]["jobs"] for s in qp) / n_ops, "count")
    out["queries.exec_s"] = (self_s(qe) / n_ops, "s")
    units = {"jobs": "count", "stages": "count", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
             "spill_bytes": "B"}
    for layer in LAYERS:
        ss = load(layer)
        for fig in SPARK_FIGURES:
            out[f"{layer}.{fig}"] = (sum(s["spark"][fig] for s in ss) / n_ops, units.get(fig, "s"))
    out["restore_s"] = (run.extra.get("restore_s", 0.0), "s")
    out["stored_bytes_per_row"] = (run.extra.get("stored_bytes_per_row", 0.0), "B")
    # tracing overhead: these minus the untraced runs' figures
    out["trace.day_or_round_s_p50"] = (_median(run.op_s), "s")
    out["trace.replay_or_query_s"] = (_second(run), "s")
    return out


def _provenance(root: str, spark, load_start: str) -> dict:
    sha = None
    if os.path.isdir(os.path.join(root, ".git")):  # a plain checkout has no history
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
                                 timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            sha = None
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(root, "oic_options_chains_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    import pyspark

    with open("/proc/loadavg") as f:
        load_end = f.read().strip()
    return {
        "git_sha": sha,
        "source_sha256": h.hexdigest(),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version") if spark is not None else None,
    }


def record(root: str, run, load_start: str, peak_rss_bytes: int) -> dict:
    metrics = per_layer(run) if run.traced else end_to_end(run, peak_rss_bytes)
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {
        "run_id": run.run_id,
        "workload": run.args.workload,
        "seed": run.args.seed,
        "seconds": run.args.seconds,
        "trace": run.args.trace,
        "provenance": _provenance(root, run.spark, load_start),
        "samples": {"setup_s": run.setup_s, "op_s": run.op_s, "replay_s": run.replay_s, "query_s": run.query_s,
                    "query_keys": run.query_keys},
        "extra": run.extra,
        "failures": run.failures,
        "result": result,
    }


def save(root: str, run, rec: dict) -> None:
    out = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(out, "traces"), exist_ok=True)
    with open(os.path.join(out, "records.jsonl"), "a") as f:
        f.write(json.dumps(rec, default=str) + "\n")
    if run.traced and run.tracer is not None:
        with open(os.path.join(out, "traces", f"{run.run_id}.json"), "w") as f:
            json.dump(run.tracer.spans, f, default=str)


def _distribution(name: str, xs: list[float]) -> str:
    """Median plus the highest percentile with >= 10 samples beyond it."""
    xs = sorted(xs)
    n = len(xs)
    line = f"  {name} samples n={n} p50={statistics.median(xs):.4f}s"
    for p in (99, 95, 90, 75):
        k = int(n * p / 100)
        if n - k - 1 >= 10:
            return line + f" p{p}={xs[k]:.4f}s"
    return line + " (no percentile has 10 samples beyond it)"


def summary(rec: dict) -> str:
    """Readable summary: every metric, sample counts and the failure log."""
    res = rec["result"]
    lines = [f"perfbench {rec['workload']} seed={rec['seed']} trace={rec['trace']} "
             f"attempted={res['attempted']} failed={res['failed']} "
             f"failed_frac={res['failed'] / res['attempted']:.4f}"]
    if rec["samples"]["op_s"]:
        lines.append(_distribution("op", rec["samples"]["op_s"]))
    if rec["samples"]["query_s"]:
        lines.append(_distribution("query", rec["samples"]["query_s"]))
    for k, v in res["metrics"].items():
        lines.append(f"  {k:34s} {v['value']:.6g} {v['unit']}")
    lines += [f"  FAIL {m}" for m in rec["failures"][:20]]
    return "\n".join(lines)
