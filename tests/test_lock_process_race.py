"""Adversarial cross-PROCESS lock recovery (VERDICT r8 item 4): two
real OS processes race ``append_day`` on the same date partition; one
holder is SIGKILLed mid-append (locks acquired, nothing written). The
kernel drops the dead holder's lock, so the survivor acquires it and
commits, PK uniqueness must hold, and a replay must be a no-op — the
reference's ON CONFLICT DO NOTHING guarantee (schema.sql:23) under a
crashed concurrent writer, which in-process thread tests can't prove."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Worker A: run the REAL append_day but wedge inside the critical
# section — locks held, no data written — then hang
# until SIGKILL. The wedge wraps _partition_locks so everything else is
# the production path.
WORKER_A = r"""
import contextlib, os, sys, time
sys.path.insert(0, {repo!r})
from oic_options_chains_spark.sources import warehouse
from oic_options_chains_spark.session import get_spark

table_dir, sentinel = sys.argv[1], sys.argv[2]
orig = warehouse._partition_locks

@contextlib.contextmanager
def wedged(*a, **k):
    with orig(*a, **k) as g:
        open(sentinel, "w").close()
        time.sleep(600)  # killed here: lock held until SIGKILL
        yield g

warehouse._partition_locks = wedged
spark = get_spark(app_name="race-a", shuffle_partitions=4)
batch = spark.createDataFrame(
    [(1, "2024-03-01", "a")], "pk int, date string, payload string"
)
warehouse.append_day(spark, table_dir, batch, pk=["pk", "date"])
"""

# Worker B: the real, unpatched append_day — it must acquire the dead
# holder's lock and commit.
WORKER_B = r"""
import os, sys
sys.path.insert(0, {repo!r})
from oic_options_chains_spark.sources import warehouse
from oic_options_chains_spark.session import get_spark

table_dir = sys.argv[1]
spark = get_spark(app_name="race-b", shuffle_partitions=4)
batch = spark.createDataFrame(
    [(1, "2024-03-01", "b1"), (2, "2024-03-01", "b2")],
    "pk int, date string, payload string",
)
n = warehouse.append_day(spark, table_dir, batch, pk=["pk", "date"])
print(f"B_APPENDED={{n}}", flush=True)
n2 = warehouse.append_day(spark, table_dir, batch, pk=["pk", "date"])
print(f"B_REPLAYED={{n2}}", flush=True)
"""


def _spawn(code: str, *args: str) -> subprocess.Popen:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    return subprocess.Popen(
        [sys.executable, "-c", code.format(repo=REPO), *args],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        env=env,
        text=True,
    )


def test_sigkilled_holder_is_dispossessed_without_duplicate_pks(
    spark, tmp_path
):
    table_dir = str(tmp_path / "warehouse")
    sentinel = str(tmp_path / "a_holds_lock")

    a = _spawn(WORKER_A, table_dir, sentinel)
    try:
        deadline = time.monotonic() + 120
        while not os.path.exists(sentinel):
            assert a.poll() is None, "worker A died before acquiring locks"
            assert time.monotonic() < deadline, "worker A never took the lock"
            time.sleep(0.2)
        lock = os.path.join(table_dir, "_locks", "2024-03-01.lock")
        assert os.path.exists(lock)
        os.kill(a.pid, signal.SIGKILL)  # dies mid-append, lock held
        a.wait(timeout=30)
    finally:
        if a.poll() is None:
            a.kill()

    b = _spawn(WORKER_B, table_dir)
    out, _ = b.communicate(timeout=300)
    assert b.returncode == 0, out
    assert "B_APPENDED=2" in out, out  # took the dead holder's lock and committed
    assert "B_REPLAYED=0" in out, out  # idempotent replay

    rows = (
        spark.read.parquet(table_dir)
        .groupBy("pk")
        .count()
        .collect()
    )
    assert sorted((r["pk"], r["count"]) for r in rows) == [(1, 1), (2, 1)]
    # no lock file is left behind: the survivor released the path
    assert not os.path.exists(
        os.path.join(table_dir, "_locks", "2024-03-01.lock")
    )
