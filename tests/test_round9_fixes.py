"""Round-9 ADVICE fixes: exact pigeonhole segment blocking for fuzzy
name matching (any max_edit), dispossession-safe partition locks,
dialect-capped JDBC stage VARCHARs, loud jl_project width mismatch."""

from __future__ import annotations

import itertools
import os
import random

import pytest
from pyspark.sql import functions as F


# --- linkage: segment blocking is EXACT for max_edit >= 2 -------------------


def _lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    d = list(range(n + 1))
    for i in range(1, m + 1):
        prev, d[0] = d[0], i
        for j in range(1, n + 1):
            cur = d[j]
            d[j] = min(d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return d[n]


def _mutate(rng: random.Random, s: str, k: int, alpha: str) -> str:
    out = list(s)
    for _ in range(k):
        op = rng.choice(["sub", "ins", "del"]) if out else "ins"
        if op == "ins":
            out.insert(rng.randrange(len(out) + 1), rng.choice(alpha))
        elif op == "del":
            del out[rng.randrange(len(out))]
        else:
            out[rng.randrange(len(out))] = rng.choice(alpha)
    return "".join(out)


@pytest.mark.parametrize("max_edit", [1, 2, 3])
def test_segment_blocking_recall_is_exact(spark, max_edit):
    """ADVICE r8 (linkage.py): the prefix block silently under-recalled
    for max_edit >= 2 (length bands stopped at +1; prefix edits never
    met). The segment scheme must equal brute force — including edits
    in the first chars, length gaps up to max_edit, and short/empty
    names the segmentation cannot cover."""
    from oic_options_chains_spark.operators.linkage import name_match_edges

    rng = random.Random(913 + max_edit)
    alpha = "abc"
    base = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 10)))
        for _ in range(80)
    ]
    names = sorted(
        set(base)
        | {_mutate(rng, s, rng.randint(1, max_edit), alpha) for s in base}
    )
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in name_match_edges(df, max_edit=max_edit).collect()
    }
    want = {
        (a, b, _lev(a, b))
        for a, b in itertools.combinations(names, 2)
        if _lev(a, b) <= max_edit
    }
    assert got == want


def test_prefix_blocking_bands_cover_max_edit_length_gap(spark):
    """The legacy prefix block now explodes bands over
    range(len, len + max_edit + 1): a pair with a length gap of 2 and a
    shared prefix meets at max_edit=2 (it never could before)."""
    from oic_options_chains_spark.operators.linkage import name_match_edges

    df = spark.createDataFrame(
        [("warehouse",), ("warehouseXY",)], ["name"]
    )
    got = name_match_edges(df, max_edit=2, blocking="prefix").collect()
    assert [(r.name_a, r.name_b, r.edit_dist) for r in got] == [
        ("warehouse", "warehouseXY", 2)
    ]


# --- warehouse locks: dispossession detection --------------------------------


def test_lock_guard_verify_detects_dispossession(tmp_path):
    """ADVICE r8 (warehouse.py): if the lock file is replaced from
    outside, the holder must notice — verify() raises once its inode no
    longer lives at the lock path, and its release must NOT unlink the
    new file."""
    from oic_options_chains_spark.sources.warehouse import (
        LockLostError,
        _partition_locks,
    )

    tdir = str(tmp_path / "t")
    lock = os.path.join(tdir, "_locks", "2024-01-02.lock")
    with _partition_locks(tdir, ["2024-01-02"], wait_sec=1) as g:
        g.verify()  # undisturbed holder passes
        # our inode is orphaned and a different file occupies the path
        os.unlink(lock)
        open(lock, "w").close()
        foreign_ino = os.stat(lock).st_ino
        with pytest.raises(LockLostError):
            g.verify()
    # inode-guarded release left the foreign holder's lock in place
    assert os.stat(lock).st_ino == foreign_ino
    os.unlink(lock)


def test_lock_guard_verify_rides_out_restore_window(tmp_path):
    """A rename away and back keeps the holder's inode at the path, so
    verify() passes."""
    from oic_options_chains_spark.sources.warehouse import _partition_locks

    tdir = str(tmp_path / "t")
    lock = os.path.join(tdir, "_locks", "2024-01-02.lock")
    with _partition_locks(tdir, ["2024-01-02"], wait_sec=1) as g:
        aside = lock + ".aside"
        os.rename(lock, aside)
        os.rename(aside, lock)
        g.verify()
    assert not os.path.exists(lock)


# --- jdbc: dialect VARCHAR ceiling -------------------------------------------


def test_stage_string_wider_than_varchar_cap_lands_as_lob(spark, tmp_path):
    """ADVICE r8 (jdbc.py): a >32672-char string used to render an
    illegal VARCHAR(n) and fail the staging CREATE. It must now land as
    a CLOB stage column and flow through the conflict-ignore insert."""
    from oic_options_chains_spark.sources.jdbc import (
        jdbc_conflict_ignore_append,
        read_jdbc,
    )

    url = f"jdbc:derby:{tmp_path / 'lobdb'}"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url + ";create=true")
    st = conn.createStatement()
    st.execute("CREATE TABLE blobs (id INT NOT NULL, body CLOB)")
    conn.close()
    long_body = "x" * 40_000
    df = spark.createDataFrame([(1, long_body), (2, "short")], ["id", "body"])
    jdbc_conflict_ignore_append(df, url, "blobs", pk=["id"], dialect="derby")
    # Derby folds unquoted identifiers to uppercase
    got = {
        r["ID"]: len(r["BODY"])
        for r in read_jdbc(spark, url, "blobs").collect()
    }
    assert got == {1: 40_000, 2: 5}


def test_stage_pk_string_over_cap_raises_early(spark, tmp_path):
    from oic_options_chains_spark.sources.jdbc import jdbc_conflict_ignore_append

    url = f"jdbc:derby:{tmp_path / 'pkdb'}"
    df = spark.createDataFrame([("k" * 40_000, 1)], ["key", "v"])
    with pytest.raises(ValueError, match="VARCHAR cap"):
        jdbc_conflict_ignore_append(df, url, "t", pk=["key"], dialect="derby")


# --- projection: loud width mismatch -----------------------------------------


def test_jl_project_raises_on_in_dim_mismatch(spark):
    """ADVICE r8 (projection.py): a wrong-width vector must raise, not
    emit NULLs (the kernel raises a worker-side ValueError)."""
    from oic_options_chains_spark.operators.projection import jl_project

    ok = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4])], ["vec_id", "embedding"]
    )
    out = jl_project(ok, out_dim=2, in_dim=4).collect()
    assert out[0]["proj"] is not None and out[0]["norm_ratio_bp"] is not None

    bad = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3])], ["vec_id", "embedding"]
    )
    with pytest.raises(Exception, match="in_dim"):
        jl_project(bad, out_dim=2, in_dim=4).collect()
