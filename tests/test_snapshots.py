"""K5 versioned snapshot sink: commit/list/read-back/replay semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.sources.snapshots import (
    commit_tables,
    list_snapshots,
    read_table_snapshot,
    read_table_version,
)


@pytest.fixture()
def snap_dir(tmp_path):
    return str(tmp_path / "snapshots")


def _df(spark, rows):
    return spark.createDataFrame(rows, "act_symbol string, px double")


def test_commit_list_read_latest(spark, snap_dir):
    commit_tables({"t": _df(spark, [("A", 1.0)])}, snap_dir, "2024-01-02", "daily")
    commit_tables({"t": _df(spark, [("A", 2.0), ("B", 3.0)])}, snap_dir, "2024-01-03")
    log = list_snapshots(snap_dir)
    assert [e["snapshot_id"] for e in log] == ["2024-01-02", "2024-01-03"]
    assert [e["rows"] for e in log] == [1, 2]
    latest = read_table_snapshot(spark, snap_dir, "t")
    assert latest.count() == 2
    old = read_table_snapshot(spark, snap_dir, "t", "2024-01-02")
    assert [r.px for r in old.collect()] == [1.0]


def test_recommit_same_day_is_replay_not_duplicate(spark, snap_dir):
    commit_tables({"t": _df(spark, [("A", 1.0)])}, snap_dir, "2024-01-02")
    commit_tables({"t": _df(spark, [("A", 9.0)])}, snap_dir, "2024-01-02")
    log = list_snapshots(snap_dir)
    assert len(log) == 1 and log[0]["rows"] == 1
    assert [r.px for r in read_table_snapshot(spark, snap_dir, "t").collect()] == [9.0]


def test_unknown_snapshot_raises(spark, snap_dir):
    commit_tables({"t": _df(spark, [("A", 1.0)])}, snap_dir, "2024-01-02")
    with pytest.raises(FileNotFoundError, match="not in log"):
        read_table_snapshot(spark, snap_dir, "t", "2023-12-31")
    with pytest.raises(FileNotFoundError, match="no snapshots"):
        read_table_snapshot(spark, snap_dir + "_missing", "t")


def test_snapshot_roundtrip_from_export_projection(spark, sf_dir, snap_dir):
    # the real export path: projection -> commit -> read-back identical
    from oic_options_chains_spark.queries import QUERIES

    df = QUERIES["q_export_projection"](spark, sf_dir)
    entry = commit_tables({"t": df}, snap_dir, "2024-01-05", "export")
    back = read_table_snapshot(spark, snap_dir, "t", "2024-01-05")
    assert back.count() == entry["rows"] == entry["tables"]["t"]["rows"] == df.count()
    assert sorted(back.columns) == sorted(df.columns)


def test_schema_evolution_across_days(spark, tmp_path):
    # A column added by a later day's load: merge_schema=True surfaces it
    # across the whole table with NULLs for the days written before it —
    # the scan-side ALTER TABLE ADD COLUMN.
    from oic_options_chains_spark.sources.warehouse import append_day, read_table

    tdir = str(tmp_path / "tbl")
    d1 = spark.createDataFrame(
        [("2024-01-01", 1, 10)], "date string, k bigint, a bigint"
    ).withColumn("date", F.col("date").cast("date"))
    append_day(spark, tdir, d1, ["k"])
    d2 = spark.createDataFrame(
        [("2024-01-02", 2, 20, "x")], "date string, k bigint, a bigint, b string"
    ).withColumn("date", F.col("date").cast("date"))
    append_day(spark, tdir, d2, ["k"])

    merged = read_table(spark, tdir, merge_schema=True)
    assert "b" in merged.columns
    rows = {r["k"]: r["b"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == "x"


def test_snapshot_diff_between_committed_versions(spark, tmp_path):
    # The release workflow end-to-end: commit v1, commit v2, read both
    # back through the log, and classify every key with the CDC
    # diff — the Dolt "what changed between these two commits" question.
    from oic_options_chains_spark.operators.cdc import snapshot_diff

    snap = str(tmp_path / "snaps")
    v1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "k bigint, payload string"
    )
    v2 = spark.createDataFrame(
        [(2, "beta"), (3, "GAMMA"), (4, "delta")], "k bigint, payload string"
    )
    commit_tables({"t": v1}, snap, "2024-01-01")
    commit_tables({"t": v2}, snap, "2024-01-02")

    old = read_table_snapshot(spark, snap, "t", "2024-01-01").select(
        "k", F.md5("payload").alias("fp")
    )
    new = read_table_snapshot(spark, snap, "t", "2024-01-02").select(
        "k", F.md5("payload").alias("fp")
    )
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {1: "removed", 2: "kept", 3: "changed", 4: "added"}


def test_concurrent_commits_never_lose_entries(spark, tmp_path):
    """VERDICT r5 item 5 (the feasible core without delta-spark): the
    OCC commit log serializes concurrent committers via put-if-absent
    version files, so two writers racing on the same snapshot dir both
    land — the read-modify-write manifest race a bare parquet+manifest
    layout cannot survive."""
    import threading

    snap = str(tmp_path / "occ_snap")
    df_by_day = {
        day: spark.createDataFrame([(day, 1)], "day string, v int")
        for day in ("2024-01-01", "2024-01-02")
    }
    barrier = threading.Barrier(2)
    errors = []

    def committer(day):
        try:
            barrier.wait(timeout=30)
            commit_tables({"t": df_by_day[day]}, snap, day, message=f"c{day}")
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=committer, args=(d,)) for d in df_by_day]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors
    ids = [e["snapshot_id"] for e in list_snapshots(snap)]
    assert ids == ["2024-01-01", "2024-01-02"], f"lost a commit: {ids}"


def test_occ_log_append_is_race_free_without_spark(tmp_path):
    """The primitive itself: 16 threads appending concurrently must all
    land with unique versions and no lost entries."""
    import threading

    from oic_options_chains_spark.sources.snapshots import (
        _append_log,
        _log_versions,
        _read_log,
    )

    snap = str(tmp_path / "log_race")
    os.makedirs(snap)
    barrier = threading.Barrier(16)
    got = []

    def run(i):
        barrier.wait(timeout=30)
        got.append(
            _append_log(
                snap,
                {
                    "snapshot_id": f"d{i:02d}",
                    "message": "",
                    "rows": i,
                    "committed_at": "2024-01-01T00:00:00+00:00",
                },
            )
        )

    ts = [threading.Thread(target=run, args=(i,)) for i in range(16)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(got) == list(range(16)), "versions must be dense and unique"
    assert _log_versions(snap) == list(range(16))
    assert [e["rows"] for e in _read_log(snap)] == list(range(16))


def test_concurrent_append_day_same_partition_keeps_pk_unique(spark, tmp_path):
    """VERDICT r6 item 3: two writers racing append_day on the SAME date
    partition with overlapping PKs must serialize through the per-date
    partition locks — the loser re-reads the winner's committed rows, so
    the table ends with exactly one row per PK (the reference's
    ON CONFLICT DO NOTHING guarantee under concurrent inserts,
    schema.sql:23). Without the locks both writers anti-join against the
    same stale state and the overlap duplicates."""
    import threading

    from oic_options_chains_spark.sources.warehouse import append_day, read_table

    tdir = str(tmp_path / "contended")
    batches = {
        "w1": spark.createDataFrame(
            [("2024-01-02", k, "w1") for k in (1, 2, 3)], "date string, k int, src string"
        ),
        "w2": spark.createDataFrame(
            [("2024-01-02", k, "w2") for k in (2, 3, 4)], "date string, k int, src string"
        ),
    }
    barrier = threading.Barrier(2)
    errors = []

    def writer(name):
        try:
            barrier.wait(timeout=60)
            append_day(spark, tdir, batches[name], ["date", "k"])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=writer, args=(n,)) for n in batches]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    rows = read_table(spark, tdir).collect()
    keys = sorted(r.k for r in rows)
    assert keys == [1, 2, 3, 4], f"PK uniqueness violated: {keys}"
    # and a replay of either batch is a no-op (idempotency preserved)
    assert append_day(spark, tdir, batches["w1"], ["date", "k"]) == 0
    assert read_table(spark, tdir).count() == 4
    # lock files are released
    locks = os.listdir(os.path.join(tdir, "_locks"))
    assert locks == [], f"leaked locks: {locks}"


def test_append_day_cluster_by_survives_partitioned_write(spark, tmp_path):
    """``cluster_by`` rows reach each file sorted by the cluster key: the
    partitioned write's own sort by date must not replace it."""
    import glob

    import pyarrow.parquet as pq

    from oic_options_chains_spark.sources.warehouse import append_day

    tdir = str(tmp_path / "clustered")
    df = spark.range(2000).selectExpr(
        "id AS k",
        "DATE'2024-01-02' AS date",
        "concat('S', CAST(id * 7919 % 97 AS STRING)) AS act_symbol",
    )
    assert append_day(spark, tdir, df, ["k", "date"], cluster_by=["act_symbol"]) == 2000
    files = glob.glob(os.path.join(tdir, "date=*", "*.parquet"))
    assert files
    for f in files:
        syms = pq.read_table(f, columns=["act_symbol"]).column(0).to_pylist()
        assert syms == sorted(syms), f


def test_append_day_cluster_by_counts_empty_writes(spark, tmp_path):
    """An append that writes no rows returns 0 with ``cluster_by`` too:
    an empty batch into a new table, and a replay into a filled one."""
    from oic_options_chains_spark.sources.warehouse import append_day

    df = spark.range(50).selectExpr("id AS k", "DATE'2024-01-02' AS date", "id % 7 AS s")
    empty = str(tmp_path / "empty")
    assert append_day(spark, empty, df.limit(0), ["k", "date"], cluster_by=["s"]) == 0
    tdir = str(tmp_path / "filled")
    assert append_day(spark, tdir, df, ["k", "date"], cluster_by=["s"]) == 50
    assert append_day(spark, tdir, df, ["k", "date"], cluster_by=["s"]) == 0


def test_partition_lock_lease_steal(tmp_path):
    """A lock file left by a crashed writer holds no kernel lock, so it is
    acquired at once; a lock held by a live holder makes a contender time
    out until the holder releases it."""
    import threading

    from oic_options_chains_spark.sources.warehouse import _partition_locks

    tdir = str(tmp_path / "lease")
    lock_path = os.path.join(tdir, "_locks", "2024-01-02.lock")
    os.makedirs(os.path.dirname(lock_path))
    open(lock_path, "w").close()
    with _partition_locks(tdir, ["2024-01-02"], wait_sec=5):
        assert os.path.exists(lock_path)
    assert not os.path.exists(lock_path)
    # a LIVE holder makes acquisition time out rather than steal
    entered = threading.Event()
    release = threading.Event()

    def holder():
        with _partition_locks(tdir, ["2024-01-02"], wait_sec=5):
            entered.set()
            release.wait(timeout=30)

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert entered.wait(timeout=30)
        with pytest.raises(TimeoutError):
            with _partition_locks(tdir, ["2024-01-02"], wait_sec=0.3):
                pass
    finally:
        release.set()
        t.join()
    assert not os.path.exists(lock_path)


def test_partition_lock_live_holder_is_never_taken(tmp_path):
    """ADVICE r7 (warehouse.py): an append that outlives a contender's
    wait must NOT lose its lock — the contender times out instead of
    taking it, and acquires it once the holder releases."""
    import threading
    import time as _t

    from oic_options_chains_spark.sources.warehouse import _partition_locks

    tdir = str(tmp_path / "beat")
    entered = threading.Event()
    release = threading.Event()
    errors = []

    def holder():
        with _partition_locks(tdir, ["2024-01-02"], wait_sec=5) as g:
            entered.set()
            release.wait(timeout=30)
            try:
                g.verify()  # still the owner after the contender gave up
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    t = threading.Thread(target=holder)
    t.start()
    assert entered.wait(timeout=30)
    _t.sleep(1.2)
    with pytest.raises(TimeoutError):
        with _partition_locks(tdir, ["2024-01-02"], wait_sec=0.5):
            pass
    release.set()
    t.join()
    assert not errors, errors
    # and after release the lock is acquirable again
    with _partition_locks(tdir, ["2024-01-02"], wait_sec=5):
        pass


def test_partition_lock_concurrent_stealers_exactly_one_wins(tmp_path):
    """ADVICE r7 (warehouse.py): N threads racing a leftover lock file
    serialize — the critical sections never overlap, including a waiter
    that wins the inode its predecessor unlinked on release."""
    import threading
    import time as _t

    from oic_options_chains_spark.sources.warehouse import _partition_locks

    tdir = str(tmp_path / "stealers")
    lock_path = os.path.join(tdir, "_locks", "2024-01-02.lock")
    os.makedirs(os.path.dirname(lock_path))
    open(lock_path, "w").close()
    stale = _t.time() - 10_000
    os.utime(lock_path, (stale, stale))

    inside = []
    overlaps = []
    guard = threading.Lock()
    barrier = threading.Barrier(8)
    errors = []

    def stealer(i):
        try:
            barrier.wait(timeout=30)
            with _partition_locks(tdir, ["2024-01-02"], wait_sec=30):
                with guard:
                    if inside:
                        overlaps.append((i, list(inside)))
                    inside.append(i)
                _t.sleep(0.05)
                with guard:
                    inside.remove(i)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    ts = [threading.Thread(target=stealer, args=(i,)) for i in range(8)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errors, errors
    assert overlaps == [], f"critical sections overlapped: {overlaps}"
    assert not os.path.exists(lock_path)


def test_version_addressed_read(spark, tmp_path):
    """Time travel by commit version: after a replayed (changed) day,
    version-addressed reads still see each commit's own content."""
    snap = str(tmp_path / "tt")
    v1 = spark.createDataFrame([("a", 1)], "k string, v int")
    v2 = spark.createDataFrame([("a", 2), ("b", 3)], "k string, v int")
    e0 = commit_tables({"t": v1}, snap, "2024-01-02", message="first")
    assert e0["rows"] == 1
    commit_tables({"t": v2}, snap, "2024-01-02", message="replayed")

    # current read = the replay
    assert read_table_snapshot(spark, snap, "t").count() == 2
    assert list_snapshots(snap)[0]["rows"] == 2
    # commits are immutable version dirs: the replayed day's OLD rows
    # are still readable at their own version — real time travel
    assert read_table_version(spark, snap, "t", 0).count() == 1
    assert read_table_version(spark, snap, "t", 1).count() == 2
    with pytest.raises(FileNotFoundError):
        read_table_version(spark, snap, "t", 99)


class TestMultiTableCommits:
    """Atomic multi-table commits: the dump-dolt shape — every table of
    a day's export becomes visible in ONE commit or not at all."""

    def test_commit_and_read_back(self, spark, tmp_path):
        from oic_options_chains_spark.sources.snapshots import (
            commit_tables,
            read_table_snapshot,
        )

        d = str(tmp_path / "snaps")
        a = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, v string")
        b = spark.createDataFrame([(9,)], "k bigint")
        entry = commit_tables({"chain": a, "weekly": b}, d, "2024-01-02")
        assert entry["rows"] == 3
        assert set(entry["tables"]) == {"chain", "weekly"}
        got = read_table_snapshot(spark, d, "chain")
        assert sorted(r["id"] for r in got.collect()) == [1, 2]
        assert read_table_snapshot(spark, d, "weekly").count() == 1

    def test_failed_staging_leaves_nothing_visible(self, spark, tmp_path):
        from oic_options_chains_spark.sources.snapshots import (
            commit_tables,
            list_snapshots,
            read_table_snapshot,
        )

        d = str(tmp_path / "snaps")
        good = spark.createDataFrame([(1,)], "id bigint")

        class Boom:
            @property
            def observe(self):
                raise RuntimeError("staging failed")

        # sorted order stages 'a_good' first, then fails on 'b_boom':
        # the log must gain NO entry and reads must see NO snapshot
        try:
            commit_tables({"a_good": good, "b_boom": Boom()}, d, "2024-01-03")
        except RuntimeError:
            pass
        assert list_snapshots(d) == []
        try:
            read_table_snapshot(spark, d, "a_good")
            raise AssertionError("half-committed table became visible")
        except FileNotFoundError:
            pass

    def test_replay_supersedes_whole_table_set(self, spark, tmp_path):
        from oic_options_chains_spark.sources.snapshots import (
            commit_tables,
            read_table_snapshot,
            read_table_version,
        )

        d = str(tmp_path / "snaps")
        v0 = commit_tables(
            {"chain": spark.range(2), "weekly": spark.range(5)},
            d,
            "2024-01-02",
        )
        v1 = commit_tables(
            {"chain": spark.range(3), "weekly": spark.range(7)},
            d,
            "2024-01-02",
        )
        # latest-by-id fold: BOTH tables come from the replay
        assert read_table_snapshot(spark, d, "chain").count() == 3
        assert read_table_snapshot(spark, d, "weekly").count() == 7
        # time travel: both tables AS OF v0 come from the SAME commit
        assert read_table_version(spark, d, "chain", v0["version"]).count() == 2
        assert read_table_version(spark, d, "weekly", v0["version"]).count() == 5
        assert v1["version"] == v0["version"] + 1

    def test_missing_table_is_an_error(self, spark, tmp_path):
        from oic_options_chains_spark.sources.snapshots import (
            commit_tables,
            read_table_snapshot,
        )

        d = str(tmp_path / "snaps")
        commit_tables({"chain": spark.range(1)}, d, "2024-01-02")
        try:
            read_table_snapshot(spark, d, "nope")
            raise AssertionError("unknown table must not read as empty")
        except FileNotFoundError:
            pass


class TestVacuum:
    def _age(self, snap_dir):
        import os, time
        for name in os.listdir(snap_dir):
            if name.startswith("_v-"):
                old = time.time() - 3600
                os.utime(os.path.join(snap_dir, name), (old, old))

    def test_vacuum_reclaims_orphans_keeps_referenced(self, spark, tmp_path):
        import os
        from oic_options_chains_spark.sources.snapshots import (
            commit_tables,
            read_table_snapshot,
            vacuum_snapshots,
        )

        d = str(tmp_path / "snaps")
        commit_tables({"chain": spark.range(2)}, d, "2024-01-02")
        # simulate a crashed stage: an unreferenced _v- dir
        orphan = os.path.join(d, "_v-crashed-xyz")
        os.makedirs(orphan)
        self._age(d)
        deleted = vacuum_snapshots(d)
        assert deleted == ["_v-crashed-xyz"]
        # the committed table still reads back
        assert read_table_snapshot(spark, d, "chain").count() == 2

    def test_vacuum_respects_grace_window(self, spark, tmp_path):
        import os
        from oic_options_chains_spark.sources.snapshots import vacuum_snapshots

        d = str(tmp_path / "snaps")
        os.makedirs(os.path.join(d, "_v-inflight"))  # fresh mtime
        assert vacuum_snapshots(d) == []

    def test_retention_drops_old_versions_keeps_current(self, spark, tmp_path):
        from oic_options_chains_spark.sources.snapshots import (
            commit_tables,
            read_table_snapshot,
            read_table_version,
            vacuum_snapshots,
        )

        d = str(tmp_path / "snaps")
        v0 = commit_tables({"chain": spark.range(2)}, d, "2024-01-02")
        commit_tables({"chain": spark.range(3)}, d, "2024-01-02")  # replay
        v2 = commit_tables({"chain": spark.range(4)}, d, "2024-01-03")
        self._age(d)
        deleted = vacuum_snapshots(d, keep_versions=2)
        assert len(deleted) == 1  # v0's superseded data dir
        # current content of both snapshot ids still reads
        assert read_table_snapshot(spark, d, "chain", "2024-01-02").count() == 3
        assert read_table_snapshot(spark, d, "chain", "2024-01-03").count() == 4
        # v0 no longer time-travels
        try:
            read_table_version(spark, d, "chain", v0["version"]).count()
            raise AssertionError("vacuumed version still readable")
        except Exception:
            pass
        assert read_table_version(spark, d, "chain", v2["version"]).count() == 4
