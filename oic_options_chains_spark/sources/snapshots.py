"""Versioned snapshot sink (SURVEY.md K5 analog): the reference pushes a
per-day Dolt commit after each export (reference: dump-dolt.rkt:92-93,
145-146 — ``dolt add``/``dolt commit -m <date>``/``dolt push``). A Spark
stack gets the same story from a snapshot-addressed directory layout plus
a tiny JSON manifest: every commit is a full immutable copy addressed by
snapshot id, the manifest is the commit log, and "checkout" is reading
one snapshot directory.

This is deliberately a minimal seam: on a production deployment the same
call sites bind to a table format's native snapshot commit (Delta/Iceberg
time travel), which adds file-level dedup between versions. The layout
here keeps the ENGINE story complete — export, commit, list, read-back,
replay-idempotent — without requiring a table-format dependency.

Scale notes: data writes are ordinary partitioned parquet writes (fully
distributed); only the commit touch is driver-side and O(1) per commit.

Concurrency: commits serialize through an OPTIMISTIC commit log — the
Delta-on-HDFS protocol, reduced to its primitive. Each commit appends
``_log/<version>.json`` with create-exclusive (O_EXCL, atomic put-if-
absent on POSIX); a concurrent committer that loses the race gets
FileExistsError, re-reads the log, and retries at the next version.
Two writers can therefore never lose each other's commits — the
read-modify-write manifest race the plain-parquet layout can't avoid.
``_MANIFEST.json`` remains as a derived, best-effort cache of the
folded log (and the read path for legacy dirs that predate the log).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"
LOG_DIR = "_log"
COMMIT_RETRIES = 64


def _manifest_path(snap_dir: str) -> str:
    return os.path.join(snap_dir, MANIFEST)


def _log_dir(snap_dir: str) -> str:
    return os.path.join(snap_dir, LOG_DIR)


def _log_versions(snap_dir: str) -> list[int]:
    d = _log_dir(snap_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[:-5]) for n in os.listdir(d) if n.endswith(".json") and n[:-5].isdigit()
    )


def _read_log(snap_dir: str) -> list[dict]:
    """Fold the commit log: entries in version order, the LATEST entry
    per snapshot_id winning (a replayed day supersedes its old commit,
    matching the reference's re-commit of the same date)."""
    by_id: dict[str, dict] = {}
    for v in _log_versions(snap_dir):
        with open(os.path.join(_log_dir(snap_dir), f"{v:020d}.json")) as f:
            entry = json.load(f)
        folded = {
            k: entry[k] for k in ("snapshot_id", "message", "rows", "committed_at")
        }
        if "data_dir" in entry:  # version-addressed commits (round 7+)
            folded["data_dir"] = entry["data_dir"]
        if "tables" in entry:  # atomic multi-table commits
            folded["tables"] = entry["tables"]
        by_id[entry["snapshot_id"]] = folded
    return sorted(by_id.values(), key=lambda e: e["snapshot_id"])


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
    """The commit log, oldest snapshot_id first. The ``_log`` fold is
    the source of truth; dirs that predate the log fall back to the
    legacy manifest."""
    if _log_versions(snap_dir):
        return _read_log(snap_dir)
    path = _manifest_path(snap_dir)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


def _write_manifest(snap_dir: str, entries: list[dict]) -> None:
    fd, tmp = tempfile.mkstemp(dir=snap_dir, prefix="._manifest")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(entries, f, indent=2)
        os.replace(tmp, _manifest_path(snap_dir))  # atomic on POSIX
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _stage(df: DataFrame, snap_dir: str, prefix: str) -> tuple[str, int]:
    """Write ``df`` once into a fresh, unique data dir under ``snap_dir``
    and count the written parquet; returns (dir basename, rows). The
    underscore prefix keeps the dir invisible to any parquet discovery
    over snap_dir itself."""
    data_dir = tempfile.mkdtemp(dir=snap_dir, prefix=prefix)
    df.write.mode("overwrite").parquet(data_dir)
    n = df.sparkSession.read.parquet(data_dir).count()
    return os.path.basename(data_dir), n


def commit_snapshot(
    df: DataFrame,
    snap_dir: str,
    snapshot_id: str,
    message: str = "",
    committed_at: str | None = None,
) -> dict:
    """Write ``df`` as snapshot ``snapshot_id`` and append the commit to
    the manifest. Replaying a day is idempotent like the reference's
    re-commit of the same date: the read-path fold shows only the
    LATEST commit per snapshot_id, never a duplicate entry.

    Commits are VERSION-ADDRESSED and immutable: each commit writes a
    fresh data dir (never overwriting a prior commit's files) and
    records it in the log entry, so ``read_snapshot_version`` is real
    time travel — a replayed day's OLD rows remain readable at their
    own version, exactly Dolt's model. Storage therefore grows per
    commit like any versioned store; production deployments bind this
    seam to a table format whose snapshots share unchanged files.

    The manifest entry records the row count (one distributed count —
    the reference's commit message carried only the date; the count is
    the recon anchor a restore can verify against)."""
    os.makedirs(snap_dir, exist_ok=True)
    data_dir, n = _stage(df, snap_dir, "_v-")
    entry = {
        "snapshot_id": snapshot_id,
        "message": message,
        "rows": n,
        "data_dir": data_dir,
        "committed_at": committed_at
        or dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    # migrate a pre-log dir: seed the log from the legacy manifest so
    # the first OCC commit does not shadow history (fold-by-id makes a
    # racing double-seed harmless)
    if not _log_versions(snap_dir):
        for legacy in list_snapshots(snap_dir):
            _append_log(snap_dir, legacy)
    # OCC append is the commit point; the manifest rewrite below is a
    # derived cache (best-effort — a concurrent writer may overwrite it
    # with an equally-derived fold, and readers prefer the log anyway)
    _append_log(snap_dir, entry)
    _write_manifest(snap_dir, _read_log(snap_dir))
    return entry


def read_snapshot(
    spark: SparkSession, snap_dir: str, snapshot_id: str | None = None
) -> DataFrame:
    """Read one committed snapshot (default: the latest by id). Reading
    an uncommitted or unknown id is an error — the manifest, not the
    filesystem, is the source of truth (a crashed write leaves data
    files but no manifest entry, and must stay invisible)."""
    entries = list_snapshots(snap_dir)
    if not entries:
        raise FileNotFoundError(f"no snapshots committed under {snap_dir}")
    ids = [e["snapshot_id"] for e in entries]
    if snapshot_id is None:
        snapshot_id = ids[-1]
    if snapshot_id not in ids:
        raise FileNotFoundError(f"snapshot {snapshot_id!r} not in manifest {ids}")
    entry = entries[ids.index(snapshot_id)]
    return spark.read.parquet(_entry_data_path(snap_dir, entry))


def _entry_data_path(snap_dir: str, entry: dict) -> str:
    """Version-addressed commits carry their data dir in the entry;
    legacy (pre-log / pre-round-7) commits live at snapshot_id=<id>."""
    return os.path.join(
        snap_dir, entry.get("data_dir", f"snapshot_id={entry['snapshot_id']}")
    )


def read_snapshot_version(
    spark: SparkSession, snap_dir: str, version: int
) -> DataFrame:
    """Time travel by COMMIT VERSION (the ``AS OF VERSION v`` face of
    the log): read EXACTLY the rows version ``v`` committed — commits
    are immutable version-addressed dirs, so this sees a replayed day's
    OLD content, not the replay. Version numbers are the OCC log's file
    names — total-ordered, gap-free, exactly what ``_append_log`` hands
    out (reference analog: ``dolt checkout <commit>``). Legacy entries
    that predate version-addressed data (no ``data_dir``) fall back to
    the id dir, which for them holds the latest content — documented
    historical limitation of pre-round-7 commits."""
    path = os.path.join(_log_dir(snap_dir), f"{version:020d}.json")
    try:
        with open(path) as f:
            entry = json.load(f)
    except OSError as exc:
        raise FileNotFoundError(
            f"no commit version {version} under {snap_dir}"
        ) from exc
    return spark.read.parquet(_entry_data_path(snap_dir, entry))


def revert_snapshot(
    spark: SparkSession,
    snap_dir: str,
    snapshot_id: str,
    message: str | None = None,
) -> dict:
    """Roll a snapshot back by COMMITTING ITS OLD CONTENT AS NEW — the
    append-only revert (``dolt revert`` analog): history is never
    rewritten, the log gains a fresh version whose data is the old
    snapshot's rows re-staged, and the fold-by-id read path sees the
    reverted content as current. Concurrency-safe for free: the commit
    goes through the same OCC log append as any writer."""
    old = read_snapshot(spark, snap_dir, snapshot_id)
    return commit_snapshot(
        old,
        snap_dir,
        snapshot_id,
        message=message or f"revert to {snapshot_id}",
    )


def commit_tables(
    dfs: dict[str, DataFrame],
    snap_dir: str,
    snapshot_id: str,
    message: str = "",
    committed_at: str | None = None,
) -> dict:
    """ONE commit covering several tables — the reference's dump-dolt
    shape (every exported table lands in a single ``dolt commit``,
    dump-dolt.rkt:92-93,145-146): either ALL tables of the snapshot
    become visible or none does. Every table's immutable data dir is
    staged FIRST (fully distributed parquet writes); the single OCC log
    append afterwards is the only commit point, so a crash or failure
    mid-stage leaves invisible orphan files and no log entry — readers
    can never observe a half-exported day. Replaying a snapshot_id
    supersedes the whole table SET at once (fold-by-id), never mixing
    tables from two runs of the same day."""
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
    if not _log_versions(snap_dir):
        for legacy in list_snapshots(snap_dir):
            _append_log(snap_dir, legacy)
    version = _append_log(snap_dir, entry)
    _write_manifest(snap_dir, _read_log(snap_dir))
    return {**entry, "version": version}


def _tables_entry(entries: list[dict], snapshot_id: str | None) -> dict:
    multi = [e for e in entries if "tables" in e]
    if not multi:
        raise FileNotFoundError("no multi-table snapshots committed")
    ids = [e["snapshot_id"] for e in multi]
    if snapshot_id is None:
        snapshot_id = ids[-1]
    if snapshot_id not in ids:
        raise FileNotFoundError(
            f"multi-table snapshot {snapshot_id!r} not in {ids}"
        )
    return multi[ids.index(snapshot_id)]


def read_table_snapshot(
    spark: SparkSession,
    snap_dir: str,
    table: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Read ONE table of a multi-table snapshot (default: latest id).
    The manifest, not the filesystem, is the source of truth; a table
    absent from the commit is an error, not an empty frame."""
    entry = _tables_entry(list_snapshots(snap_dir), snapshot_id)
    if table not in entry["tables"]:
        raise FileNotFoundError(
            f"table {table!r} not in snapshot {entry['snapshot_id']!r} "
            f"(has {sorted(entry['tables'])})"
        )
    return spark.read.parquet(
        os.path.join(snap_dir, entry["tables"][table]["data_dir"])
    )


def read_table_version(
    spark: SparkSession, snap_dir: str, table: str, version: int
) -> DataFrame:
    """Time travel for one table of a multi-table commit: every table
    read AS OF version v comes from the SAME atomic commit, so
    cross-table consistency (the FK story of a per-day export) holds at
    any historical version, exactly like ``dolt checkout <commit>``."""
    path = os.path.join(_log_dir(snap_dir), f"{version:020d}.json")
    try:
        with open(path) as f:
            entry = json.load(f)
    except OSError as exc:
        raise FileNotFoundError(
            f"no commit version {version} under {snap_dir}"
        ) from exc
    if "tables" not in entry or table not in entry["tables"]:
        raise FileNotFoundError(
            f"table {table!r} not in commit version {version}"
        )
    return spark.read.parquet(
        os.path.join(snap_dir, entry["tables"][table]["data_dir"])
    )


def vacuum_snapshots(snap_dir: str, keep_versions: int | None = None) -> list[str]:
    """Delete orphaned data dirs — the VACUUM analog. A crashed or
    failed commit stages ``_v-*`` dirs that no log entry references
    (by design: invisibility is the atomicity guarantee); vacuum
    reclaims them. With ``keep_versions`` set, data dirs referenced
    ONLY by log versions older than the newest N are reclaimed too
    (their versions stop time-traveling, like Delta's retention window)
    — entries whose data is current (latest per snapshot_id) are always
    kept regardless of age.

    Returns the deleted directory names. Driver-side O(dirs) metadata
    work only; safe against concurrent committers because a NEW commit
    stages into a fresh tempdir name that cannot collide with the
    listing snapshot taken here, and is only referenced once its log
    entry exists — vacuum never deletes a dir a completed commit
    references, and an IN-FLIGHT stage is protected by the grace check
    (only dirs older than 10 minutes are eligible)."""
    import shutil
    import time

    if not os.path.isdir(snap_dir):
        return []
    referenced: set[str] = set()
    versions = _log_versions(snap_dir)
    keep = (
        set(versions)
        if keep_versions is None
        else set(versions[-keep_versions:])
    )
    current = {
        e.get("data_dir") for e in _read_log(snap_dir)
    } | {
        t["data_dir"]
        for e in _read_log(snap_dir)
        for t in e.get("tables", {}).values()
    }
    for v in versions:
        with open(os.path.join(_log_dir(snap_dir), f"{v:020d}.json")) as f:
            entry = json.load(f)
        dirs = [entry["data_dir"]] if "data_dir" in entry else []
        dirs += [t["data_dir"] for t in entry.get("tables", {}).values()]
        if v in keep:
            referenced.update(dirs)
    referenced |= {d for d in current if d}
    deleted = []
    now = time.time()
    for name in sorted(os.listdir(snap_dir)):
        path = os.path.join(snap_dir, name)
        if not (name.startswith("_v-") and os.path.isdir(path)):
            continue
        if name in referenced:
            continue
        if now - os.path.getmtime(path) < 600:
            continue  # grace window for an in-flight stage
        shutil.rmtree(path)
        deleted.append(name)
    return deleted
