"""Versioned snapshot sink (SURVEY.md K5 analog): the reference commits
every exported table of a day in one ``dolt commit`` (reference:
dump-dolt.rkt:92-93,145-146) and restores a table by reading it back
from that commit (restore-from-dolt.rkt:45-71).

Layout under ``snap_dir``:

- ``_v-<table>-*/`` — one immutable parquet data dir per committed
  table, never overwritten;
- ``_log/<version>.json`` — the commit log and the only source of
  truth. One entry per commit:
  ``{snapshot_id, message, rows, tables: {name: {data_dir, rows}},
  committed_at, version}``.

A commit stages every table first, then appends one log entry; a data
dir no entry names is invisible. The latest entry per ``snapshot_id``
is current, so replaying a day supersedes its whole table set; every
version stays readable until vacuumed.

Concurrency: the append is create-exclusive (O_EXCL, atomic
put-if-absent on POSIX); a committer that loses the race retries at the
next version, so concurrent commits never lose each other.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession

from oic_options_chains_spark.operators.metrics import observed_counts

LOG_DIR = "_log"
COMMIT_RETRIES = 64


def _log_dir(snap_dir: str) -> str:
    return os.path.join(snap_dir, LOG_DIR)


def _log_versions(snap_dir: str) -> list[int]:
    d = _log_dir(snap_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[:-5]) for n in os.listdir(d) if n.endswith(".json") and n[:-5].isdigit()
    )


def _log_entry(snap_dir: str, version: int) -> dict:
    path = os.path.join(_log_dir(snap_dir), f"{version:020d}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except OSError as exc:
        raise FileNotFoundError(f"no commit version {version} under {snap_dir}") from exc


def _read_log(snap_dir: str) -> list[dict]:
    """Fold the log: the latest entry per snapshot_id (a replayed day
    supersedes its old commit), oldest snapshot_id first."""
    by_id = {}
    for v in _log_versions(snap_dir):
        entry = _log_entry(snap_dir, v)
        by_id[entry["snapshot_id"]] = entry
    return [by_id[k] for k in sorted(by_id)]


def _append_log(snap_dir: str, entry: dict) -> int:
    """Put-if-absent append: try version = max+1; on a lost race
    (FileExistsError from a concurrent committer) advance and retry.
    Returns the committed version."""
    d = _log_dir(snap_dir)
    os.makedirs(d, exist_ok=True)
    versions = _log_versions(snap_dir)
    v = (versions[-1] + 1) if versions else 0
    for _ in range(COMMIT_RETRIES):
        path = os.path.join(d, f"{v:020d}.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            v += 1  # lost the race; the next slot may be free
            continue
        with os.fdopen(fd, "w") as f:
            json.dump({**entry, "version": v}, f)
        return v
    raise RuntimeError(
        f"snapshot commit lost {COMMIT_RETRIES} consecutive races under {snap_dir}"
    )


def list_snapshots(snap_dir: str) -> list[dict]:
    """The current entry per snapshot_id, oldest snapshot_id first."""
    return _read_log(snap_dir)


def _stage(df: DataFrame, snap_dir: str, prefix: str) -> tuple[str, int]:
    """Write ``df`` into a fresh data dir under ``snap_dir``; returns
    (dir basename, rows written). The underscore prefix keeps the dir
    invisible to parquet discovery over ``snap_dir`` itself."""
    data_dir = tempfile.mkdtemp(dir=snap_dir, prefix=prefix)
    df, written = observed_counts(df)
    df.write.mode("overwrite").parquet(data_dir)
    return os.path.basename(data_dir), written.get["rows"]


def commit_tables(
    dfs: dict[str, DataFrame],
    snap_dir: str,
    snapshot_id: str,
    message: str = "",
    committed_at: str | None = None,
) -> dict:
    """Commit every table of ``dfs`` as snapshot ``snapshot_id`` in ONE
    log entry: all tables become visible or none does. Each entry and
    table records its row count, the recon anchor a restore can check.
    Returns the entry, including its ``version``."""
    os.makedirs(snap_dir, exist_ok=True)
    tables: dict[str, dict] = {}
    for name in sorted(dfs):
        data_dir, n = _stage(dfs[name], snap_dir, f"_v-{name}-")
        tables[name] = {"data_dir": data_dir, "rows": n}
    entry = {
        "snapshot_id": snapshot_id,
        "message": message,
        "rows": sum(t["rows"] for t in tables.values()),
        "tables": tables,
        "committed_at": committed_at
        or dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    version = _append_log(snap_dir, entry)
    return {**entry, "version": version}


def _read_entry_table(
    spark: SparkSession, snap_dir: str, entry: dict, table: str
) -> DataFrame:
    if table not in entry["tables"]:
        raise FileNotFoundError(
            f"table {table!r} not in snapshot {entry['snapshot_id']!r} "
            f"version {entry['version']} (has {sorted(entry['tables'])})"
        )
    return spark.read.parquet(os.path.join(snap_dir, entry["tables"][table]["data_dir"]))


def read_table_snapshot(
    spark: SparkSession,
    snap_dir: str,
    table: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Read one table of snapshot ``snapshot_id``'s current commit
    (default: the latest snapshot_id). An unknown snapshot or a table
    absent from the commit raises FileNotFoundError."""
    entries = list_snapshots(snap_dir)
    if not entries:
        raise FileNotFoundError(f"no snapshots committed under {snap_dir}")
    ids = [e["snapshot_id"] for e in entries]
    if snapshot_id is None:
        snapshot_id = ids[-1]
    if snapshot_id not in ids:
        raise FileNotFoundError(f"snapshot {snapshot_id!r} not in log {ids}")
    return _read_entry_table(spark, snap_dir, entries[ids.index(snapshot_id)], table)


def read_table_version(
    spark: SparkSession, snap_dir: str, table: str, version: int
) -> DataFrame:
    """Read one table exactly as commit ``version`` wrote it (``dolt
    checkout <commit>``); every table read at one version comes from the
    same commit."""
    return _read_entry_table(spark, snap_dir, _log_entry(snap_dir, version), table)


def vacuum_snapshots(snap_dir: str, keep_versions: int | None = None) -> list[str]:
    """Delete ``_v-*`` data dirs no kept log entry names; returns their
    names. Kept are the current entry per snapshot_id and, with
    ``keep_versions`` set, the newest N versions (default: all). Older
    versions stop time-traveling. Dirs modified in the last 10 minutes
    are never deleted: a concurrent commit may still be staging them."""
    if not os.path.isdir(snap_dir):
        return []
    versions = _log_versions(snap_dir)
    kept = versions if keep_versions is None else versions[-keep_versions:]
    entries = [_log_entry(snap_dir, v) for v in kept] + _read_log(snap_dir)
    referenced = {t["data_dir"] for e in entries for t in e["tables"].values()}
    deleted = []
    now = time.time()
    for name in sorted(os.listdir(snap_dir)):
        path = os.path.join(snap_dir, name)
        if not name.startswith("_v-") or not os.path.isdir(path) or name in referenced:
            continue
        if now - os.path.getmtime(path) < 600:
            continue  # grace window for an in-flight stage
        shutil.rmtree(path)
        deleted.append(name)
    return deleted
