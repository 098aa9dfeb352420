"""Streaming DSIR model maintenance: running target/raw bucket counts
accumulated per micro-batch, exactly-once by construction.

The batch side (operators/dsir.py) fits the importance model in one
pass; this is the streaming corollary for a corpus that ARRIVES as a
stream — each micro-batch's B-row bucket stats land in the model store,
so the selection model stays current without reprocessing history.

Replay safety differs from the HLL register table (sketch_stream.py) in
an instructive way: HLL MAX-merge is idempotent by lattice algebra, but
gram counts are ADDITIVE — merging the same batch twice would
double-count. Idempotency therefore comes from DETERMINISTIC BATCH
KEYING instead: each micro-batch writes its partial stats to
``batch=<batch_id>/`` with mode("overwrite"), and foreachBatch replays
reuse the same batch_id, so a retry overwrites its own previous attempt
bit-for-bit and the aggregate over batch directories is exactly-once.
This is the standard idempotent-additive-sink pattern; the reader
simply sums bucket-wise (``bucket_stats`` is mergeable by design).

State size: n_batches x B rows of integers — model-sized, never
data-sized. ``compact_model`` folds batch partials into a versioned
``compacted-v=<n>`` base committed by an atomic pointer whose manifest
records the folded batch ids — so a batch replayed AFTER compaction
(written, crashed before checkpoint commit, drained again) is skipped
by the reader instead of double-counted. Correctness never depends on
compaction because addition is associative.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.dsir import (
    DSIR_BUCKETS,
    DSIR_SCALE,
    bucket_stats,
    hashed_gram_counts,
    ratios_from_stats,
)

_STATS_SCHEMA = "bucket int, c_raw bigint, c_tgt bigint"

# compact_model folds the model through the driver: at most this many
# bucket rows (2^16; the default DSIR_BUCKETS is 256)
_MAX_MODEL_BUCKETS = 65_536


def write_batch_stats(
    batch: DataFrame,
    target,
    model_dir: str,
    batch_id: int,
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch's (bucket, c_raw, c_tgt) partial, written to its
    deterministic ``batch=<id>`` directory. Calling again with the same
    batch_id (an at-least-once retry) overwrites the same directory with
    the same rows — the replay no-op the foreachBatch contract needs."""
    stats = bucket_stats(
        hashed_gram_counts(batch, target, n_buckets, id_col, text_col)
    )
    stats.write.mode("overwrite").parquet(
        os.path.join(model_dir, f"batch={batch_id}")
    )


def run_incremental_dsir_model(
    spark: SparkSession,
    stream: DataFrame,
    target,
    model_dir: str,
    checkpoint_dir: str,
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Drain a document stream into the model store (AvailableNow — the
    same cadence contract as the raw-zone loads). Returns the
    terminated StreamingQuery so callers (tools/stream_bench.py) can
    read its per-micro-batch progress."""

    def process(batch: DataFrame, batch_id: int) -> None:
        write_batch_stats(
            batch, target, model_dir, batch_id, n_buckets, id_col, text_col
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _compaction_state(model_dir: str) -> tuple[int, set[int]] | None:
    """(version, included batch ids) of the committed compaction, or
    None. Explicit pointer-file probe (the ``sketch_stream`` pattern) —
    never except-around-read."""
    path = os.path.join(model_dir, "_COMPACTED")
    if not os.path.isfile(path):
        return None
    import json

    with open(path) as fh:
        state = json.load(fh)
    return int(state["version"]), set(int(b) for b in state["included"])


def read_model_stats(spark: SparkSession, model_dir: str) -> DataFrame:
    """(bucket, c_raw, c_tgt) summed over the committed compacted base
    (if any) plus every batch partial NOT folded into it — a model-sized
    read (n_batches x B rows in, B rows out).

    Excluding included ids is what keeps compaction exactly-once: a
    batch REPLAYED after compaction rewrites its ``batch=<id>``
    directory, but its id is in the compacted manifest, so the reader
    ignores the rewrite instead of double-counting it."""
    comp = _compaction_state(model_dir)
    included: set[int] = comp[1] if comp else set()
    paths = [
        os.path.join(model_dir, n)
        for n in os.listdir(model_dir)
        if n.startswith("batch=") and int(n.split("=", 1)[1]) not in included
    ]
    if comp is not None:
        paths.append(os.path.join(model_dir, f"compacted-v={comp[0]}"))
    if not paths:
        # fresh model_dir (no partials, no base): a defined empty model,
        # not a zero-path analyzer error — read_model_ratios then yields
        # the all-buckets-zero ratio table and compact_model is a no-op
        parts = spark.createDataFrame([], _STATS_SCHEMA)
    else:
        parts = spark.read.schema(_STATS_SCHEMA).parquet(*paths)
    return parts.groupBy("bucket").agg(
        F.sum("c_raw").cast("bigint").alias("c_raw"),
        F.sum("c_tgt").cast("bigint").alias("c_tgt"),
    )


def read_model_ratios(
    spark: SparkSession,
    model_dir: str,
    n_buckets: int = DSIR_BUCKETS,
    scale: int = DSIR_SCALE,
) -> DataFrame:
    """The current (bucket, c_raw, c_tgt, ratio_sc) importance model —
    the identical arithmetic as the batch fit (ratios_from_stats is
    shared), so a model accumulated over N micro-batches equals the
    batch model over their union bit-for-bit."""
    return ratios_from_stats(read_model_stats(spark, model_dir), n_buckets, scale)


def compact_model(spark: SparkSession, model_dir: str) -> None:
    """Fold the current model into a new ``compacted-v=<n>`` base.
    Runs between drains (single-maintainer contract, like the raw-zone
    retention jobs): summing partials is associative, so compaction
    changes nothing the reader can observe.

    Exactly-once interaction with replay: compaction does NOT delete the
    batch directories' idempotency — the committed ``_COMPACTED``
    manifest records every folded batch id, and the reader skips those
    ids even if a crashed-then-restarted drain REWRITES one of them
    (written but not yet checkpoint-committed when the crash hit).
    Without the manifest, that replayed batch would count once inside
    the compacted base and once from its rewritten directory. The
    commit itself is crash-atomic: new version directory first, then an
    atomic pointer replace; superseded versions and folded batch dirs
    are pruned only after commit."""
    import json
    import shutil

    comp = _compaction_state(model_dir)
    included: set[int] = comp[1] if comp else set()
    folded = [
        int(n.split("=", 1)[1])
        for n in os.listdir(model_dir)
        if n.startswith("batch=")
    ]
    # model-sized driver round-trip (<= n_buckets rows), tripwired like
    # the other audited bounded collects (SCALING.md ground rules); the
    # raise comes before any write, so an oversized model stays intact
    stats = (
        read_model_stats(spark, model_dir)
        .limit(_MAX_MODEL_BUCKETS + 1)
        .collect()
    )
    if len(stats) > _MAX_MODEL_BUCKETS:
        raise ValueError(
            f"model has >{_MAX_MODEL_BUCKETS} buckets — too large to compact "
            "through the driver; keep its batch= partials uncompacted"
        )
    nxt = 0 if comp is None else comp[0] + 1
    spark.createDataFrame(
        [(r.bucket, r.c_raw, r.c_tgt) for r in stats], _STATS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(model_dir, f"compacted-v={nxt}")
    )
    tmp = os.path.join(model_dir, "_COMPACTED.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": nxt, "included": sorted(included | set(folded))}, fh)
    os.replace(tmp, os.path.join(model_dir, "_COMPACTED"))
    for n in os.listdir(model_dir):
        if n.startswith("batch=") or (
            n.startswith("compacted-v=") and n != f"compacted-v={nxt}"
        ):
            shutil.rmtree(os.path.join(model_dir, n), ignore_errors=True)
