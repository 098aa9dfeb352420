"""Unit tests for product quantization + IVF-ADC retrieval
(operators/pq.py): code validity, ADC-vs-exact consistency, and the
plan property the scale story rests on (assignment is a broadcast fold,
not a shuffle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oic_options_chains_spark.operators.kmeans import quantize
from oic_options_chains_spark.operators.pq import (
    ADC_SHIFT,
    adc_table_batch,
    ivf_pq_topk_batch,
    pq_fit,
)
from oic_options_chains_spark.sources.registry import load_table

N_SUB, K_SUB, SUB_DIM = 8, 16, 8


def test_codes_are_valid_subcentroid_ids(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    coded, codebooks = pq_fit(e, n_sub=N_SUB, k_sub=K_SUB, iters=2)
    rows = coded.select("vec_id", "codes").collect()
    assert all(len(r.codes) == N_SUB for r in rows)
    valid = {
        (r.sub, r.cid) for r in codebooks.select("sub", "cid").collect()
    }
    for r in rows:
        for sub, code in enumerate(r.codes):
            assert (sub, code) in valid
    # every vector got coded
    assert len(rows) == e.count()


def test_codes_match_bruteforce_argmin(spark, sf_dir):
    """The fold argmin must equal the exact rational argmin computed in
    Python over the same integer moments (lowest cid on ties). With
    iters=1 the codes are assigned against the SEED codebooks (each of
    the k_sub lowest-id vectors' subvectors as a singleton cell), which
    the test rebuilds in Python — pq_fit's returned codebooks are the
    post-assignment update, mirroring kmeans_fit and the oracle."""
    e = load_table(spark, sf_dir, "embeddings").limit(60)
    coded, _ = pq_fit(e, n_sub=N_SUB, k_sub=K_SUB, iters=1)
    qv = {r.vec_id: r.qarr for r in quantize(e).collect()}
    books: dict[int, list] = {}
    for vid in range(K_SUB):
        for s in range(N_SUB):
            sq = qv[vid][s * SUB_DIM : (s + 1) * SUB_DIM]
            books.setdefault(s, []).append(
                (vid, sq, 1, sum(x * x for x in sq))
            )
    got = {r.vec_id: r.codes for r in coded.collect()}
    for vid, qarr in qv.items():
        for s, cells in books.items():
            sq = qarr[s * SUB_DIM : (s + 1) * SUB_DIM]
            a = sum(x * x for x in sq)
            best = None  # (num, nn, cid) compared by num_i*nn_j
            for cid, sarr, n, ss in cells:
                b = sum(x * y for x, y in zip(sq, sarr))
                num, nn = a * n * n - 2 * b * n + ss, n * n
                if best is None or num * best[1] < best[0] * nn:
                    best = (num, nn, cid)
            assert got[vid][s] == best[2], (vid, s)


def test_adc_scores_bound_exact_distance(spark, sf_dir):
    """ADC is the distance to the candidate's RECONSTRUCTION (its
    sub-centroids), floor-scaled by 2^20 — per subspace it must match
    the exact rational floor computed in Python."""
    e = load_table(spark, sf_dir, "embeddings").limit(40)
    qv = quantize(e)
    qrow = qv.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("qarr").alias("q_qarr")
    )
    _, codebooks = pq_fit(e, n_sub=N_SUB, k_sub=K_SUB, iters=1)
    rows = adc_table_batch(codebooks, qrow).collect()
    assert {r.qid for r in rows} == {0}
    adc = {(r.sub, r.cid): r.sd for r in rows}
    q = qv.filter(F.col("vec_id") == 0).collect()[0].qarr
    for r in codebooks.collect():
        sq = q[r.sub * SUB_DIM : (r.sub + 1) * SUB_DIM]
        a = sum(x * x for x in sq)
        b = sum(x * y for x, y in zip(sq, r.sarr))
        num = a * r.n * r.n - 2 * b * r.n + int(r.ss)
        assert adc[(r.sub, r.cid)] == (num * ADC_SHIFT) // (r.n * r.n)


def test_ivf_pq_returns_ranked_topk(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = ivf_pq_topk_batch(e, [0], topk=5).collect()
    assert {r.qid for r in out} == {0}
    assert len(out) == 5
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    by_rank = sorted(out, key=lambda r: r.rank)
    scores = [r.score for r in by_rank]
    assert scores == sorted(scores)
    assert all(r.vec_id != 0 for r in out)


def test_assignment_is_broadcast_fold_no_shuffle(spark, sf_dir):
    """The code-assignment projection must not add an exchange beyond
    the codebook aggregation itself: quantize -> assign over a cached
    single-row broadcast plans as BroadcastNestedLoopJoin/Project, with
    no hashpartitioning on the corpus relation."""
    from oic_options_chains_spark.operators.pq import _pq_fit_qv, assign_codes

    e = load_table(spark, sf_dir, "embeddings")
    qv = quantize(e)
    _, codebooks = _pq_fit_qv(qv, N_SUB, K_SUB, iters=1)
    plan = (
        assign_codes(qv, codebooks, N_SUB, SUB_DIM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus side reads the parquet scan straight into the project;
    # the only exchanges allowed belong to the (tiny) codebook subtree
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side
