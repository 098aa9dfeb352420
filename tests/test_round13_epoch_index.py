"""Round 13 (VERDICT r12 item 2, generalized): the incremental screens
(aHash, MinHash) and IVF-PQ retrieval consume MATERIALIZED epoch
artifacts instead of re-deriving them per invocation. Pins, for each
family:

- result identity: the base_index= path returns exactly the inline
  base= path's rows (the index is a pure function of the corpus, so
  materializing it can only move work, never answers);
- the exactly-one-of contract (base= xor base_index=) and the index
  schema check are real ValueErrors;
- the query-level cache builds once per corpus identity and is READ,
  not recomputed, on every later call (the steady-state bench cost is
  delta-side work only);
- q_ahash_incremental (the registered key) equals the inline form on
  the real sf tables — the oracle never sees the cache, so this is the
  same-answer guarantee the driver's value hash relies on.
"""

from __future__ import annotations

import pytest

# full-profile only (r16): scale-heavy suite moved out of the driver's
# default pytest budget; tools/run_suite.py (-m "") still runs it
pytestmark = pytest.mark.full
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.phash import (
    ahash_band_table,
    ahash_incremental,
    materialize_epoch_index,
)


def _rows(df):
    return {(r.doc_id, r.kept, r.dup_of, r.hamming) for r in df.collect()}


@pytest.fixture()
def corpus(spark):
    prefix = "the same leading template sentence for every single doc "
    base = spark.createDataFrame(
        [(i, prefix + f"tail {i} " + "x" * (i % 7)) for i in range(60)],
        ["doc_id", "text"],
    )
    delta = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.upper("text").alias("text"),
    )
    return base, delta


def test_materialized_index_path_equals_inline(spark, tmp_path, corpus):
    base, delta = corpus
    path = str(tmp_path / "epoch_idx")
    materialize_epoch_index(base, path)
    idx = spark.read.parquet(path)
    got = _rows(ahash_incremental(None, delta, base_index=idx))
    want = _rows(ahash_incremental(base, delta))
    assert got == want and got


def test_exactly_one_of_base_and_index(spark, corpus):
    base, delta = corpus
    idx = ahash_band_table(base)
    with pytest.raises(ValueError, match="exactly one"):
        ahash_incremental(base, delta, base_index=idx)
    with pytest.raises(ValueError, match="exactly one"):
        ahash_incremental(None, delta)
    with pytest.raises(ValueError, match="contract columns"):
        ahash_incremental(None, delta, base_index=base)  # wrong relation


def test_epoch_cache_builds_once_then_reads(
    spark, sf_dir, tmp_path, monkeypatch
):
    import oic_options_chains_spark.operators.phash as phash
    from oic_options_chains_spark.queries.profiling import _ahash_epoch_index

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    builds = []
    real = phash.materialize_epoch_index
    monkeypatch.setattr(
        phash,
        "materialize_epoch_index",
        lambda *a, **k: (builds.append(1), real(*a, **k))[1],
    )
    first = _ahash_epoch_index(spark, sf_dir)
    again = _ahash_epoch_index(spark, sf_dir)
    assert builds == [1], "index rebuilt despite unchanged corpus identity"
    assert first.count() == again.count() > 0


def test_registered_key_matches_inline_form(spark, sf_dir, tmp_path, monkeypatch):
    from oic_options_chains_spark.queries import QUERIES
    from oic_options_chains_spark.sources.registry import load_table

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    got = _rows(QUERIES["q_ahash_incremental"](spark, sf_dir))
    d = load_table(spark, sf_dir, "documents")
    delta = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper("text").alias("text"),
    )
    want = _rows(
        ahash_incremental(d.select("doc_id", "text"), delta, max_hamming=3)
    )
    assert got == want and got


# --- the MinHash twin (round-13 second wave) --------------------------------


def test_minhash_index_path_equals_inline(spark, sf_dir, tmp_path):
    from oic_options_chains_spark.operators.minhash import (
        incremental_lsh_dedup,
        materialize_epoch_band_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.filter(F.col("doc_id") % 10 < 8).select("doc_id", "text")
    delta = d.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")
    path = str(tmp_path / "band_idx")
    materialize_epoch_band_index(base, path)
    idx = spark.read.parquet(path)
    got = {
        (r.doc_id, r.kept, r.dup_of, r.jaccard_bp)
        for r in incremental_lsh_dedup(base, delta, base_index=idx).collect()
    }
    want = {
        (r.doc_id, r.kept, r.dup_of, r.jaccard_bp)
        for r in incremental_lsh_dedup(base, delta).collect()
    }
    assert got == want and got


def test_minhash_index_schema_check(spark, sf_dir):
    import pytest

    from oic_options_chains_spark.operators.minhash import (
        incremental_lsh_dedup,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.filter(F.col("doc_id") % 10 < 8)
    delta = d.filter(F.col("doc_id") % 10 >= 8)
    with pytest.raises(ValueError, match="contract columns"):
        incremental_lsh_dedup(base, delta, base_index=base)


def test_minhash_registered_key_uses_cache_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """q_dedup_incremental builds its epoch band index on first use and
    READS it afterwards — and the served rows equal the inline form's."""
    import oic_options_chains_spark.operators.minhash as mh
    from oic_options_chains_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    builds = []
    real = mh.materialize_epoch_band_index
    monkeypatch.setattr(
        mh,
        "materialize_epoch_band_index",
        lambda *a, **k: (builds.append(1), real(*a, **k))[1],
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.filter(F.col("doc_id") % 10 < 8).select("doc_id", "text")
    delta = d.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")
    want = {
        (r.doc_id, r.kept, r.dup_of, r.jaccard_bp)
        for r in mh.incremental_lsh_dedup(base, delta).collect()
    }
    for expected_builds in (1, 1):
        got = {
            (r.doc_id, r.kept, r.dup_of, r.jaccard_bp)
            for r in QUERIES["q_dedup_incremental"](spark, sf_dir).collect()
        }
        assert got == want and got
        assert len(builds) == expected_builds, "index rebuilt on reuse"


# --- the ANN serving shape (round-13 third wave) -----------------------------


def test_ivf_pq_index_path_equals_inline_fit(spark, sf_dir, tmp_path):
    from oic_options_chains_spark.operators.pq import (
        ivf_pq_fit_index,
        ivf_pq_topk_batch,
        materialize_ivf_pq_index,
        read_ivf_pq_index,
    )
    from oic_options_chains_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    want = {
        tuple(r) for r in ivf_pq_topk_batch(e, [0], rerank=50).collect()
    }
    # in-memory index
    idx = ivf_pq_fit_index(e)
    got = {
        tuple(r)
        for r in ivf_pq_topk_batch(e, [0], rerank=50, index=idx).collect()
    }
    assert got == want and got
    # parquet round-trip: bit-exact (integer moments end-to-end)
    path = str(tmp_path / "ivfpq")
    materialize_ivf_pq_index(e, path)
    stored = read_ivf_pq_index(spark, path)
    got2 = {
        tuple(r)
        for r in ivf_pq_topk_batch(e, [0], rerank=50, index=stored).collect()
    }
    assert got2 == want
    # ...and for the diagnostic ADC-only form too
    want_adc = {
        tuple(r) for r in ivf_pq_topk_batch(e, [0], rerank=None).collect()
    }
    got_adc = {
        tuple(r)
        for r in ivf_pq_topk_batch(
            e, [0], rerank=None, index=stored
        ).collect()
    }
    assert got_adc == want_adc


def test_ivf_pq_index_schema_check(spark, sf_dir):
    import pytest

    from oic_options_chains_spark.operators.pq import IvfPqIndex, ivf_pq_topk_batch
    from oic_options_chains_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    bad = IvfPqIndex(assigned=e, centroids=e, codes=e, codebooks=e)
    with pytest.raises(ValueError, match="contract columns"):
        ivf_pq_topk_batch(e, [0], index=bad)


def test_served_key_builds_once_and_matches_rerank_key(
    spark, sf_dir, tmp_path, monkeypatch
):
    import oic_options_chains_spark.operators.pq as pq
    from oic_options_chains_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    builds = []
    real = pq.materialize_ivf_pq_index
    monkeypatch.setattr(
        pq,
        "materialize_ivf_pq_index",
        lambda *a, **k: (builds.append(1), real(*a, **k))[1],
    )
    want = {
        tuple(r) for r in QUERIES["q_ann_pq_rerank"](spark, sf_dir).collect()
    }
    for expected_builds in (1, 1):
        got = {
            tuple(r)
            for r in QUERIES["q_ann_pq_served"](spark, sf_dir).collect()
        }
        assert got == want and got
        assert len(builds) == expected_builds, "index rebuilt on reuse"


def test_batch_with_index_equals_batch_inline(spark, sf_dir, tmp_path):
    """The composed production shape: a materialized epoch index
    answering a batch of queries — bit-for-bit the inline-fit batch."""
    from oic_options_chains_spark.operators.pq import (
        ivf_pq_topk_batch,
        materialize_ivf_pq_index,
        read_ivf_pq_index,
    )
    from oic_options_chains_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qids = (0, 17, 101)
    want = {
        tuple(r) for r in ivf_pq_topk_batch(e, qids, rerank=50).collect()
    }
    path = str(tmp_path / "ivfpq")
    materialize_ivf_pq_index(e, path)
    idx = read_ivf_pq_index(spark, path)
    got = {
        tuple(r)
        for r in ivf_pq_topk_batch(e, qids, rerank=50, index=idx).collect()
    }
    assert got == want and got


def test_failed_build_leaves_no_temp_dir_and_raises(tmp_path, monkeypatch):
    import os

    from oic_options_chains_spark.sources.epoch import epoch_dir

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path))
    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")

    def bad_build(p):
        os.makedirs(p)  # half-written artifact
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        epoch_dir(str(src), "t13-failtest", bad_build)
    leftovers = list((tmp_path / "epoch").glob("*")) if (
        tmp_path / "epoch"
    ).exists() else []
    assert leftovers == [], f"half-written temp dirs left: {leftovers}"
    # and the failure is not cached: a later good build succeeds
    built = epoch_dir(str(src), "t13-failtest", lambda p: os.makedirs(p))
    assert os.path.isdir(built)


def test_minhash_requires_base_even_with_index(spark, sf_dir, tmp_path):
    """Unlike the aHash screen, the Jaccard verify reads base TEXT — the
    missing-base failure must be a caller-facing ValueError at entry,
    not an AttributeError deep in the semi-join (review finding r13)."""
    from oic_options_chains_spark.operators.minhash import (
        incremental_lsh_dedup,
        materialize_epoch_band_index,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.filter(F.col("doc_id") % 10 < 8).select("doc_id", "text")
    delta = d.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")
    path = str(tmp_path / "band_idx")
    materialize_epoch_band_index(base, path)
    idx = spark.read.parquet(path)
    with pytest.raises(ValueError, match="base is required"):
        incremental_lsh_dedup(None, delta, base_index=idx)


def test_precomputed_hot_equals_inline_hot(spark, sf_dir, tmp_path):
    """hot= (the once-per-epoch tier split the streaming twin
    checkpoints) must not change any hit vs the inline aggregation."""
    from oic_options_chains_spark.operators.phash import (
        hot_bucket_keys,
        incremental_screen_hits,
        materialize_epoch_index,
    )
    from oic_options_chains_spark.sources.registry import load_table

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "text")
    path = str(tmp_path / "epoch_idx")
    materialize_epoch_index(base, path)
    idx = spark.read.parquet(path)
    delta_h = ahash_band_table(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    ).localCheckpoint(eager=True)
    # cap=0 so the hot tier actually fires on this corpus
    want = {
        tuple(r)
        for r in incremental_screen_hits(
            idx, delta_h, hot_bucket_cap=0
        ).collect()
    }
    hot = hot_bucket_keys(idx, hot_bucket_cap=0).localCheckpoint(eager=True)
    got = {
        tuple(r)
        for r in incremental_screen_hits(
            idx, delta_h, hot_bucket_cap=0, hot=hot
        ).collect()
    }
    assert got == want and got
