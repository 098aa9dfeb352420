"""The ``query_mix`` workload: registered query keys run as one
closed-loop client over generated tables.

Each query is built (``queries.plan``: the registered function, with any eager
collects or checkpoints it fires) and then fully materialized through
the ``noop`` sink (``queries.exec``), so column pruning cannot skip
projected work the way a ``count()`` would. Outside the timed region
every key is collected once (:func:`result_hash`) and its canonical hash
is compared with that of its DuckDB ``ORACLE`` SQL run over the same
files (:class:`Oracle`).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import time

import duckdb

from oic_options_chains_spark.queries import ORACLE, QUERIES
from oic_options_chains_spark.sources.registry import TABLES

# group -> keys: one key per group of the registry mix, so that a round
# fits the run budget next to a fresh JVM's start-up
MIX = {
    "chain domain": ("q_asof_price",),
    "kernels": ("q_random_projection",),
    "driver finish": ("q_kcore",),
    "shuffle / pairs": ("q_minhash_lsh_pairs",),
    "epoch-cache served": ("q_dedup_incremental",),
    "projection": ("q_text_normalize",),
}
KEYS = tuple(k for keys in MIX.values() for k in keys)


def run_query(spark, tracer, sf_dir: str, key: str) -> float:
    """Build and fully materialize one key; returns its wall seconds."""
    t0 = time.perf_counter()
    with tracer.span("query", phase="query", key=key):
        with tracer.span("queries.plan", key=key):
            df = QUERIES[key](spark, sf_dir)
        with tracer.span("queries.exec", key=key):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _norm(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (decimal.Decimal, dt.date, dt.datetime)):
        return v.isoformat() if isinstance(v, dt.date) else str(v)
    return str(v)


def canonical_hash(columns: list[str], rows) -> tuple[str, int]:
    """Order-insensitive hash of a result: columns sorted by name, rows
    normalized then sorted. Returns (hex digest, row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    data = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for row in data:
        h.update(repr(row).encode())
    return h.hexdigest(), len(data)


def result_hash(spark, sf_dir: str, key: str) -> tuple[str, int]:
    """Collect ``key`` and return its canonical hash and row count."""
    df = QUERIES[key](spark, sf_dir)
    return canonical_hash(df.columns, [tuple(r) for r in df.collect()])


class Oracle:
    """DuckDB views over the generated tables."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(self, key: str, got: tuple[str, int]) -> str | None:
        """Compare a Spark result's ``(hash, rows)`` with the oracle's.
        Returns None when they match, else why not."""
        res = self.con.execute(ORACLE[key])
        want = canonical_hash([d[0] for d in res.description], res.fetchall())
        if got == want:
            return None
        return f"spark {got[1]} rows hash {got[0][:12]} != oracle {want[1]} rows hash {want[0][:12]}"

    def close(self) -> None:
        self.con.close()
