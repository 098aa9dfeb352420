"""ivf_pq_topk_batch(rerank=R) — the ADC-shortlist + exact-re-rank accuracy
stage: with every coarse cell probed and a corpus-wide shortlist the
result must EQUAL the exact quantized-integer-L2 top-k (the ADC
approximation fully absorbed), and rank/score must be the exact
distances. Runs on the real 64-dim embeddings table (the operator's
sub-quantizers are 8-dim slices: dim must be n_sub * 8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch
from oic_options_chains_spark.sources.registry import load_table

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=True)


def _exact_topk(e, qid, k):
    q = e.filter(F.col("vec_id") == qid).select(
        F.col("embedding").alias("qv")
    )
    d = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("qv"),
            lambda x, y: (
                F.floor(x.cast("double") * 4096).cast("bigint")
                - F.floor(y.cast("double") * 4096).cast("bigint")
            )
            * (
                F.floor(x.cast("double") * 4096).cast("bigint")
                - F.floor(y.cast("double") * 4096).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        e.filter(F.col("vec_id") != qid)
        .crossJoin(F.broadcast(q))
        .select("vec_id", d.alias("score"))
        .orderBy("score", "vec_id")
        .limit(k)
        .collect()
    )


def test_full_probe_full_shortlist_rerank_is_exact(spark, emb):
    got = ivf_pq_topk_batch(
        emb, [0], coarse_k=4, n_probe=4, n_sub=8, k_sub=8,
        iters=2, topk=5, rerank=10**6,
    ).collect()
    want = _exact_topk(emb, 0, 5)
    assert [(r.vec_id, r.score) for r in sorted(got, key=lambda r: r.rank)] == [
        (r.vec_id, r.score) for r in want
    ]


def test_rerank_never_returns_more_than_topk_and_ranks_densely(spark, emb):
    got = ivf_pq_topk_batch(
        emb, [3], coarse_k=4, n_probe=2, n_sub=8, k_sub=8,
        iters=2, topk=5, rerank=20,
    ).collect()
    assert len(got) == 5
    assert sorted(r.rank for r in got) == [1, 2, 3, 4, 5]
    by_rank = sorted(got, key=lambda r: r.rank)
    assert all(a.score <= b.score for a, b in zip(by_rank, by_rank[1:]))


def test_rerank_recall_at_least_plain_adc(spark, emb):
    """On the same probe set, exact-re-ranking an R>topk shortlist can
    only improve (or tie) recall vs trusting ADC order directly."""
    want = {r.vec_id for r in _exact_topk(emb, 7, 5)}
    kw = dict(coarse_k=4, n_probe=4, n_sub=8, k_sub=8, iters=2, topk=5)
    plain = {
        r.vec_id for r in ivf_pq_topk_batch(emb, [7], rerank=None, **kw).collect()
    }
    rr = {r.vec_id for r in ivf_pq_topk_batch(emb, [7], rerank=40, **kw).collect()}
    assert len(rr & want) >= len(plain & want)
