"""Batch retrieval operators — one query relation answers many queries.
Property: each qid's rows from a multi-query batch equal that qid run
alone as a one-query batch, bit-for-bit (queries never interact), for
ivf_pq_topk_batch with and without the rerank stage and for the cosine
top-k family; per-qid output is exactly topk dense ranks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch
from oic_options_chains_spark.operators.similarity import (
    batch_topk,
    batch_topk_ivf,
    batch_topk_multiprobe,
)
from oic_options_chains_spark.sources.registry import load_table

QIDS = (0, 17, 101)
KW = dict(coarse_k=8, n_probe=2, n_sub=8, k_sub=16, iters=2, topk=5)


@pytest.mark.parametrize("rerank", [None, 50])
def test_batch_matches_single_query_per_qid(spark, sf_dir, rerank):
    e = load_table(spark, sf_dir, "embeddings")
    batch = {
        (r.qid, r.rank): (r.vec_id, r.score)
        for r in ivf_pq_topk_batch(e, QIDS, rerank=rerank, **KW).collect()
    }
    assert len(batch) == len(QIDS) * 5
    for qid in QIDS:
        single = ivf_pq_topk_batch(e, [qid], rerank=rerank, **KW).collect()
        assert len(single) == 5
        for r in single:
            assert r.qid == qid
            assert batch[(qid, r.rank)] == (r.vec_id, r.score), (qid, r.rank)


@pytest.mark.parametrize(
    "topk_fn, kw",
    [
        (batch_topk, {}),
        (batch_topk_ivf, {"bits": 4}),
        (batch_topk_multiprobe, {"bits": 4}),
    ],
    ids=["batch_topk", "batch_topk_ivf", "batch_topk_multiprobe"],
)
def test_similarity_batch_matches_single_query_per_qid(spark, sf_dir, topk_fn, kw):
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(*QIDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def ranked(qs):
        return {
            (r.query_id, r.rank): (r.vec_id, r.score_e6)
            for r in topk_fn(e, qs, k=5, **kw).collect()
        }

    batch = ranked(queries)
    assert {q for q, _ in batch} == set(QIDS)
    for qid in QIDS:
        # a literal query id: the one-row form the registered keys use
        alone = ranked(
            queries.filter(F.col("query_id") == qid).select(
                F.lit(qid).alias("query_id"), "query_vec"
            )
        )
        assert alone
        assert alone == {key: v for key, v in batch.items() if key[0] == qid}, qid


def test_absent_query_id_contributes_no_rows(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = ivf_pq_topk_batch(e, (0, 10_000_000), **KW).collect()
    assert {r.qid for r in out} == {0}
    assert len(out) == 5


def test_batch_ranks_dense_per_qid(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = ivf_pq_topk_batch(e, QIDS, **KW).collect()
    assert len(out) == len(QIDS) * 5
    for qid in QIDS:
        ranks = sorted(r.rank for r in out if r.qid == qid)
        assert ranks == [1, 2, 3, 4, 5]
        assert all(r.vec_id != qid for r in out if r.qid == qid)
