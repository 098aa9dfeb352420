"""Date-partitioned parquet warehouse with conflict-ignore appends.

The reference's tables live in PostgreSQL with composite PKs and
``ON CONFLICT DO NOTHING`` inserts (reference: schema.sql:23,
transform-load.2025-08-19.rkt:209) — replays are free. Without an index,
the same guarantee is an anti-join against the pruned existing partition
before an append (SURVEY.md K1, operators/dedup.py) made under a kernel
file lock per date partition: concurrent writers on one host serialize
per date, a crashed writer's locks vanish with it, and a lock file
removed or replaced from outside aborts the write (``LockLostError``).

Scale: the table is ``partitionBy(date)`` (the reference's dated-folder
layout made durable); an incoming day prunes the existing side to one
partition, and AQE broadcasts it when small. At 100 TB, bucketing or
Z-ordering by ``act_symbol`` inside each date partition keeps the
reference's per-symbol queries one-file reads; a table format with MERGE
(Delta/Iceberg) replaces the anti-join with a metadata-level upsert but
the logical plan is identical.
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import time
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.dedup import dedup_by_key
from oic_options_chains_spark.operators.metrics import observed_counts


def table_exists(table_dir: str) -> bool:
    return os.path.isdir(table_dir) and any(
        not name.startswith((".", "_")) for name in os.listdir(table_dir)
    )


def read_table(
    spark: SparkSession, table_dir: str, merge_schema: bool = False
) -> DataFrame:
    """Scan the partitioned table. ``merge_schema=True`` reconciles a
    column added by a later day's load (K6's restore-with-null-column,
    but at the SCAN: old partitions surface the new column as NULL,
    matching the reference's ALTER TABLE ADD COLUMN semantics,
    schema.sql + restore path). Default off: schema merging reads every
    file's footer up front, which at warehouse scale is a driver-side
    listing cost worth paying only when evolution actually happened."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(table_dir)


LOCK_DIR = "_locks"
LOCK_WAIT_SEC = 120.0
# A daily batch carries one date (a backfill a handful); crossing this
# means the caller passed an unbatched historical load — split it.
MAX_LOCKED_DATES = 1000


class LockLostError(RuntimeError):
    """A held lock's file was removed or replaced at its path from outside
    ``_partition_locks``; the safe response is to abort the write and retry."""


def _is_ours(path: str, fd: int) -> bool:
    try:
        return os.stat(path).st_ino == os.fstat(fd).st_ino
    except OSError:
        return False


class _LockGuard:
    """The ``(path, fd)`` of every date lock a holder owns."""

    def __init__(self) -> None:
        self.held: list[tuple[str, int]] = []

    def verify(self) -> None:
        """Raise ``LockLostError`` unless each held inode still lives at its path."""
        for path, fd in self.held:
            if not _is_ours(path, fd):
                raise LockLostError(f"partition lock {path} was replaced under this holder")


def _lock_file(path: str, wait_sec: float) -> int:
    """An fd holding ``flock(LOCK_EX)`` on the file that lives at ``path``."""
    deadline = time.monotonic() + wait_sec
    while True:
        fd = os.open(path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            if time.monotonic() > deadline:
                raise TimeoutError(f"partition lock {path} held past {wait_sec}s") from None
            time.sleep(0.05)
        else:
            if _is_ours(path, fd):
                return fd
            os.close(fd)  # the holder we waited on unlinked this inode on release


@contextlib.contextmanager
def _partition_locks(
    table_dir: str, dates: Sequence[str], wait_sec: float = LOCK_WAIT_SEC
) -> Iterator[_LockGuard]:
    """Per-date-partition mutex: an exclusive ``flock`` on
    ``<table_dir>/_locks/<date>.lock``. The loser of a race WAITS (polling
    every 50 ms, ``TimeoutError`` after ``wait_sec``), then re-reads the
    partition — so its duplicate rows anti-join away against the winner's
    committed rows. This is the reference's PK uniqueness under
    concurrent inserts (schema.sql:23 ON CONFLICT DO NOTHING).

    Dates are acquired in sorted order (no deadlock between writers
    locking overlapping date sets). The kernel drops a ``flock`` when its
    holder exits, SIGKILL included, so a crashed writer frees its dates
    at once and a live holder is never dispossessed. A lock counts only
    while its inode still lives at the path: release unlinks the path
    (only while it is still the holder's inode) before closing, and a
    waiter that then wins the orphaned inode re-opens the path.

    Scope: writers on one host sharing a local POSIX filesystem with the
    table. The lock belongs to the open file description, so threads of
    one process exclude each other as separate processes do."""
    d = os.path.join(table_dir, LOCK_DIR)
    os.makedirs(d, exist_ok=True)
    guard = _LockGuard()
    try:
        for date in sorted(set(dates)):
            path = os.path.join(d, f"{date}.lock")
            guard.held.append((path, _lock_file(path, wait_sec)))
        yield guard
    finally:
        for path, fd in guard.held:
            if _is_ours(path, fd):
                with contextlib.suppress(OSError):
                    os.unlink(path)
            os.close(fd)


def append_day(
    spark: SparkSession,
    table_dir: str,
    incoming: DataFrame,
    pk: Sequence[str],
    date_col: str = "date",
    cluster_by: Sequence[str] = (),
) -> int:
    """Idempotent single-date append: in-batch PK dedup, anti-join against
    the existing date partition(s), then a partitioned append. Returns
    the appended row count (0 for a replay), observed on the write.

    ``cluster_by`` (typically ``["act_symbol"]``) hash-repartitions and
    sorts rows inside each date partition before the write, so parquet
    row-group min/max stats make per-symbol reads skip almost every file
    — the poor man's Z-order for the reference's dominant access pattern
    (one symbol, one day) without requiring a table format.

    Concurrency: the read-antijoin-append runs under per-date kernel
    file locks (``_partition_locks``; writers on one host) — two writers
    racing on the same day serialize, the loser re-reads the winner's
    committed rows, and PK uniqueness holds like the reference's ON
    CONFLICT DO NOTHING. Right before the write, ``verify()`` raises
    ``LockLostError`` if a lock file was removed or replaced from
    outside. The batch's distinct dates are collected on the driver for
    this (bounded: tripwired at ``MAX_LOCKED_DATES``) and double as
    partition pruning literals on the existing side.
    """
    batch = dedup_by_key(incoming, pk)
    # one computation of the (possibly expensive) incoming transform:
    # the distinct-date collect below and the write must agree
    batch = batch.localCheckpoint(eager=True)
    date_rows = batch.select(date_col).distinct().limit(MAX_LOCKED_DATES + 1).collect()
    if len(date_rows) > MAX_LOCKED_DATES:
        raise ValueError(
            f"append_day batch spans >{MAX_LOCKED_DATES} dates — split the backfill"
        )
    date_vals = [r[0] for r in date_rows]
    with _partition_locks(table_dir, [str(v) for v in date_vals]) as guard:
        if table_exists(table_dir):
            existing = read_table(spark, table_dir).filter(
                F.col(date_col).isin(date_vals)
            )
            batch = batch.join(existing.select(*pk), on=list(pk), how="left_anti")
        if cluster_by:
            # led by date, this meets the partitioned write's ordering: kept
            batch = batch.repartition(
                *[F.col(c) for c in cluster_by]
            ).sortWithinPartitions(date_col, *cluster_by)
        # observed above any exchange: AQE drops a query stage that ran
        # empty from the final plan, and an observation inside it with it
        batch, appended = observed_counts(batch)
        guard.verify()
        batch.write.mode("append").partitionBy(date_col).parquet(table_dir)
    return appended.get["rows"]


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] = (),
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by join key.

    Bucketing is the storage-level answer to the warehouse's dominant
    join pattern (chains x universe on the symbol key): two tables
    bucketed on the same key with the same bucket count join with ZERO
    exchanges — each task reads bucket i from both sides — and with
    ``sort_cols`` matching the join key the per-task sort disappears too.
    At 100 TB that converts the nightly enrichment join from a full
    corpus shuffle into a file-aligned merge.

    Written through the session catalog (``saveAsTable`` with an explicit
    ``path``) because bucket metadata lives in the catalog, not parquet;
    plain ``spark.read.parquet`` of the same files would forget the
    bucketing and reintroduce the shuffle. To also drop the merge-join
    sort, readers must set
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` — safe
    here because this writer guarantees one file per bucket (see below).
    """
    # One file per bucket: repartition on the bucket hash first (same
    # murmur3 HashPartitioning the bucket spec uses). Spark only trusts
    # sortBy metadata — and skips the merge-join sort — when a bucket is
    # a single file; a multi-task write otherwise leaves one file per
    # (task, bucket) and reintroduces per-task sorts at read time.
    staged = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = (
        staged.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Catalog read that preserves bucket metadata (see write_bucketed)."""
    return spark.table(table_name)


def overwrite_table(spark: SparkSession, table_dir: str, state: DataFrame) -> None:
    """Replace the whole (small, SCD-0) table with a new merged state —
    the storage step for the ``weekly`` upsert (K3): compute
    ``operators.merge.upsert(read_table(...), batch)`` then persist here.
    The state is checkpointed first, truncating the lineage so the write
    plan no longer references the files it is replacing."""
    state.localCheckpoint(eager=True).write.mode("overwrite").parquet(table_dir)


def expire_raw_days(
    base_dir: str,
    keep_days: int,
    today: str,
    loaded_dates: set[str] | None = None,
) -> list[str]:
    """Raw-zone retention (SURVEY K7): delete dated raw folders older
    than ``keep_days`` before ``today`` (ISO yyyy-MM-dd folder names,
    the reference's layout). A folder is only expired if it has been
    loaded (``loaded_dates``, when given) — retention must never destroy
    the only copy of unprocessed data.

    Driver-side file ops by design: the raw zone is a directory tree,
    not a table; at deploy scale this maps to object-store lifecycle
    rules, and this function is the testable local analog. Returns the
    list of expired folder names (for the run log / recon metrics).
    """
    import datetime as dt
    import re
    import shutil

    cutoff = dt.date.fromisoformat(today) - dt.timedelta(days=keep_days)
    expired = []
    if not os.path.isdir(base_dir):
        return expired
    for name in sorted(os.listdir(base_dir)):
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", name):
            continue
        day = dt.date.fromisoformat(name)
        if day >= cutoff:
            continue
        if loaded_dates is not None and name not in loaded_dates:
            continue
        shutil.rmtree(os.path.join(base_dir, name))
        expired.append(name)
    return expired


def compact_partition(
    spark: SparkSession,
    table_dir: str,
    date_value: str,
    target_files: int = 1,
    date_col: str = "date",
    cluster_by: Sequence[str] = (),
) -> None:
    """Rewrite one date partition into ``target_files`` files.

    Incremental appends (streaming micro-batches, late-file pickups)
    accumulate small files per partition; at cluster scale that degrades
    scan parallelism bookkeeping and footer overhead. Compaction is a
    per-partition rewrite — prunable, idempotent, and safe under the
    single-writer-per-partition discipline the appends already assume.
    """
    part_dir = f"{table_dir}/{date_col}={date_value}"
    rows = spark.read.parquet(part_dir)
    if cluster_by:
        staged = rows.repartition(
            target_files, *[F.col(c) for c in cluster_by]
        ).sortWithinPartitions(*cluster_by)
    else:
        staged = rows.coalesce(target_files)
    # checkpoint truncates lineage so the overwrite no longer reads its
    # own source files
    staged.localCheckpoint(eager=True).write.mode("overwrite").parquet(part_dir)
