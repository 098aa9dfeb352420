"""Streaming DSIR model maintenance: the accumulated bucket stats must
equal the batch model over everything streamed so far, replayed batches
must be exactly-once (batch-keyed overwrite), and compaction must be
observationally invisible."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.dsir import (
    bucket_stats,
    dsir_bucket_ratios,
    hashed_gram_counts,
)
from oic_options_chains_spark.streaming.selection_stream import (
    compact_model,
    read_model_ratios,
    read_model_stats,
    run_incremental_dsir_model,
    write_batch_stats,
)

SCHEMA = "doc_id bigint, text string, lang string"


def _docs(i0, n, lang_of=lambda i: "en" if i % 3 else "fr"):
    return [
        (i, f"tok{i % 5} tok{(i + 1) % 7} tok{(i + 2) % 3}", lang_of(i))
        for i in range(i0, i0 + n)
    ]


def _add_file(spark, src, name, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        os.path.join(src, name)
    )


def _tgt():
    return F.col("lang") == "en"


def test_streamed_model_matches_batch_fit(spark, tmp_path):
    src = str(tmp_path / "src")
    model = str(tmp_path / "model")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _add_file(spark, src, "b1", _docs(0, 60))
    _add_file(spark, src, "b2", _docs(60, 40))
    stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")
    run_incremental_dsir_model(spark, stream, _tgt(), model, ckpt)

    everything = spark.createDataFrame(_docs(0, 100), SCHEMA)
    batch_model = sorted(
        map(tuple, dsir_bucket_ratios(everything, _tgt()).collect())
    )
    streamed_model = sorted(map(tuple, read_model_ratios(spark, model).collect()))
    assert streamed_model == batch_model

    # late file: a second drain advances the model to the new truth
    _add_file(spark, src, "b3", _docs(100, 30))
    stream2 = spark.readStream.schema(SCHEMA).parquet(src + "/*")
    run_incremental_dsir_model(spark, stream2, _tgt(), model, ckpt)
    all2 = spark.createDataFrame(_docs(0, 130), SCHEMA)
    assert sorted(map(tuple, read_model_ratios(spark, model).collect())) == sorted(
        map(tuple, dsir_bucket_ratios(all2, _tgt()).collect())
    )


def test_replayed_batch_is_exactly_once(spark, tmp_path):
    model = str(tmp_path / "model")
    batch = spark.createDataFrame(_docs(0, 50), SCHEMA)
    write_batch_stats(batch, _tgt(), model, batch_id=0)
    before = sorted(map(tuple, read_model_stats(spark, model).collect()))
    # at-least-once retry: the SAME batch id writes again — no double count
    write_batch_stats(batch, _tgt(), model, batch_id=0)
    after = sorted(map(tuple, read_model_stats(spark, model).collect()))
    assert after == before
    # counts reconcile with a direct fit of the batch
    direct = sorted(
        map(
            tuple,
            bucket_stats(hashed_gram_counts(batch, _tgt())).collect(),
        )
    )
    assert after == direct


def test_compaction_is_observationally_invisible(spark, tmp_path):
    model = str(tmp_path / "model")
    for bid in range(4):
        write_batch_stats(
            spark.createDataFrame(_docs(bid * 25, 25), SCHEMA), _tgt(), model, bid
        )
    before = sorted(map(tuple, read_model_ratios(spark, model).collect()))
    compact_model(spark, model)
    assert not [n for n in os.listdir(model) if n.startswith("batch=")]
    assert os.path.isfile(os.path.join(model, "_COMPACTED"))
    assert sorted(map(tuple, read_model_ratios(spark, model).collect())) == before
    # and accumulation continues on top of the compacted base
    write_batch_stats(
        spark.createDataFrame(_docs(100, 10), SCHEMA), _tgt(), model, 99
    )
    assert len(read_model_ratios(spark, model).collect()) >= len(before)


def test_batch_replayed_after_compaction_is_not_double_counted(spark, tmp_path):
    """The crash window the manifest exists for: batch 1 is written,
    the drain dies BEFORE the checkpoint commits it, compaction runs,
    then the restarted drain replays batch 1 — its rewritten directory
    must be ignored (its counts already live in the compacted base)."""
    model = str(tmp_path / "model")
    b0 = spark.createDataFrame(_docs(0, 30), SCHEMA)
    b1 = spark.createDataFrame(_docs(30, 20), SCHEMA)
    write_batch_stats(b0, _tgt(), model, 0)
    write_batch_stats(b1, _tgt(), model, 1)
    truth = sorted(map(tuple, read_model_stats(spark, model).collect()))
    compact_model(spark, model)
    write_batch_stats(b1, _tgt(), model, 1)  # the replay
    assert sorted(map(tuple, read_model_stats(spark, model).collect())) == truth
    # a second compaction folds the (ignored) rewrite away harmlessly
    compact_model(spark, model)
    assert sorted(map(tuple, read_model_stats(spark, model).collect())) == truth
    # while a genuinely NEW batch still lands
    write_batch_stats(spark.createDataFrame(_docs(50, 10), SCHEMA), _tgt(), model, 2)
    assert sorted(map(tuple, read_model_stats(spark, model).collect())) != truth


def test_fresh_model_dir_reads_as_defined_empty_model(spark, tmp_path):
    """ADVICE r5: a model_dir with no batch partials and no compacted
    base must read as an empty stats table (and compact cleanly), not a
    zero-path analyzer error."""
    model = str(tmp_path / "fresh_model")
    os.makedirs(model, exist_ok=True)
    assert read_model_stats(spark, model).collect() == []
    compact_model(spark, model)  # no-op base, must not raise
    assert read_model_stats(spark, model).collect() == []


def test_oversized_model_compaction_raises_and_keeps_partials(
    spark, tmp_path, monkeypatch
):
    """The model-size bound holds under ``python -O`` too: a model with
    more buckets than the driver-side fold allows raises ValueError
    before anything is written or deleted, so the batch partials (the
    whole model) survive."""
    import oic_options_chains_spark.streaming.selection_stream as ss

    model = str(tmp_path / "model")
    write_batch_stats(
        spark.createDataFrame(_docs(0, 50), SCHEMA), _tgt(), model, batch_id=0
    )
    before = sorted(map(tuple, read_model_stats(spark, model).collect()))
    monkeypatch.setattr(ss, "_MAX_MODEL_BUCKETS", len(before) - 1)
    with pytest.raises(ValueError, match="buckets"):
        compact_model(spark, model)
    assert sorted(os.listdir(model)) == ["batch=0"]
    assert sorted(map(tuple, read_model_stats(spark, model).collect())) == before
