"""Scale-curve bench: the most expensive headline queries at sf0.1 /
sf0.5 / sf1, with a log-log slope per query.

The per-round driver bench (bench.py) pins sf0.1; this answers the
100 TB question directly: as the data grows 10x, does each plan's cost
grow linearly (slope ~1, scan-bound), sublinearly (slope <1, fixed
overheads still dominate at these sizes), or superlinearly (slope >1 —
a pair-explosion or shuffle blow-up that needs a plan fix or a
documented cap)? Slopes are fit on best-of-N timings between the
sf0.1 and sf1 points (10x row counts via tools/gen_scale.py).

Writes SCALE_CURVE.json and prints one JSON line per query.
Usage: python tools/bench_curve.py [--runs 3] [--queries q_a q_b ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the 5 most expensive at sf0.1 in BENCH_r05 + the scale-shape-critical
# operator families (LSH pair generation, IVF probe, graph, interval/
# point-in-time range joins, packing, span dedup)
DEFAULT_QUERIES = [
    "q_ann_ivf_pq",
    "q_curation_build",
    "q_semdedup",
    "q_selection_build",
    "q_dsir_select",
    "q_ann_ivf_kmeans",
    "q_minhash_lsh_pairs",
    "q_simhash_pairs",
    "q_span_dedup",
    "q_knn_triangles",
    "q_chain_build",
    "q_pack_sequences",
    "q_interval_join",
    "q_dedup_ensemble",
    "q_maxmatch_segment",
    "q_anf",
    "q_pit_join",
    "q_decontam_banded",
    "q_ann_pq_rerank",
    "q_lsh_pairs_capped",
    "q_decontam_t08",
    "q_ann_pq_served",
    "q_dedup_incremental",
]


def _semdedup_scaled_k(spark, sf_dir):
    """The documented SemDeDup scale path: k grows with the corpus
    (cells stay bounded-size) instead of the oracle-pinned k=8. With
    k ~ sqrt(n) the within-cell pairing is O(n^1.5) and the fixed-k
    quadratic term disappears — the curve's job is to show the slope
    actually drops when the knob is turned."""
    from pyspark.sql import functions as F  # noqa: F401

    from oic_options_chains_spark.operators.kmeans import semantic_dedup
    from oic_options_chains_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    k = max(8, int(n**0.5))
    return semantic_dedup(e, eps=22_000_000, k=k, iters=2)


def _knn_triangles_scaled_bits(spark, sf_dir):
    """The documented kNN-graph scale path: sign-bucket bits sized by
    similarity.bits_for(n) (buckets stay ~target-rows) instead of the
    oracle-pinned bits=4."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.graph import (
        bucketed_knn_edges,
        mutual_edges,
        triangle_counts,
    )
    from oic_options_chains_spark.operators.similarity import bits_for
    from oic_options_chains_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    bits = bits_for(emb.count())
    edges = mutual_edges(
        bucketed_knn_edges(emb, k=6, bits=bits, broadcast_candidates=True)
    )
    return triangle_counts(edges).select(
        F.col("node").alias("vec_id"), "degree", "n_triangles"
    )


def _semdedup_sub_lsh(spark, sf_dir):
    """The VALIDATED SemDeDup scale knob: keep the cheap fixed-k fit,
    split each cell's pairing by a bits_for(n)-sized sign-LSH sub-bucket
    (semantic_dedup(sub_bits=...)). Pair groups stay bounded without
    pushing the Lloyd fit superlinear the way scaled_k does."""
    from oic_options_chains_spark.operators.kmeans import semantic_dedup
    from oic_options_chains_spark.operators.similarity import bits_for
    from oic_options_chains_spark.sources.registry import load_table

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        e, eps=22_000_000, k=8, iters=2, sub_bits=bits_for(e.count())
    )


def _minhash_pairs_hot_cap(spark, sf_dir):
    """The pair-contract hot-bucket guard (round-11): inside band
    buckets past the cap a candidate pair must also agree on a second
    band (minhash.lsh_candidate_pairs hot_bucket_cap). On uniform
    replicated corpora hot buckets fragment on second bands and the
    capped join is FASTER than the clique; on exact-dup megabuckets the
    pair CONTRACT itself is quadratic (use lsh_star_edges for cluster
    consumers) — this curve entry records both corpora honestly."""
    from oic_options_chains_spark.operators.minhash import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_band_keys,
    )
    from oic_options_chains_spark.sources.registry import load_table

    d = load_table(spark, sf_dir, "documents")
    bands = minhash_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    return lsh_candidate_pairs(bands, "doc_id", hot_bucket_cap=1024)


def _semantic_decontam_scaled_bits(spark, sf_dir):
    """The documented cross_near_pairs scale path: sign-bucket bits
    derived from the PROBE (train) side's count via bits_for(n) instead
    of the oracle-pinned bits=4. With 16 fixed buckets both bipartite
    sides grow linearly in sf, so candidates grow ~n^2/16 — measured
    slope_last 1.32 on the pinned form at sf1->sf2 (the only other
    superlinear segment besides the fixed semdedup scaled-k). Auto bits
    keep expected bucket occupancy flat; the recall probes record the
    accuracy each form actually delivers against exact cosine ground
    truth on a sampled eval side."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from oic_options_chains_spark.operators.similarity import cross_near_pairs
    from oic_options_chains_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    tr = emb.filter(F.col("vec_id") % 10 != 0)
    hits = cross_near_pairs(tr, ev, threshold=0.35, bits=None)  # auto
    w = Window.partitionBy("id_a").orderBy(
        F.col("score_e6").desc(), F.col("id_b").asc()
    )
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("id_a").alias("vec_id"),
            F.col("id_b").alias("contaminant_id"),
            "score_e6",
        )
    )


def _ann_ivf_pq_scaled(spark, sf_dir):
    """q_ann_ivf_pq's operator with the scale knobs turned
    (:func:`_pq_scaled_params`): coarse cells sized to ~1024 vectors,
    probe fraction held constant, 64-codeword sub-quantizers. The
    paired recall probe shows whether the knobs recover the pinned
    form's measured recall decay."""
    from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch
    from oic_options_chains_spark.queries.clustering import (
        _ITERS,
        _N_SUB,
        _spread,
    )
    from oic_options_chains_spark.sources.registry import (
        load_table,
        table_row_count,
    )

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    kw = _pq_scaled_params(table_row_count(sf_dir, "embeddings"))
    return ivf_pq_topk_batch(  # kw carries rerank=None (ADC-only twin)
        e, [0], n_sub=_N_SUB, iters=_ITERS, topk=5, **kw
    ).drop("qid")


def _ann_ivf_pq_rerank(spark, sf_dir):
    """q_ann_ivf_pq's operator at the ORACLE-PINNED parameters plus the
    production accuracy stage: ADC top-50 shortlist exact-re-ranked
    (ivf_pq_topk_batch(rerank=50)). Separates the two decay sources — the
    shortlist absorbs quantization misranking inside probed cells at
    the cost of reading 50 real vectors per query; any residual recall
    loss is coarse-cell pruning."""
    from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch
    from oic_options_chains_spark.queries.clustering import (
        _ITERS,
        _K,
        _K_SUB,
        _N_SUB,
        _spread,
    )
    from oic_options_chains_spark.sources.registry import load_table

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_topk_batch(
        e, [0], coarse_k=_K, n_probe=2, n_sub=_N_SUB, k_sub=_K_SUB,
        iters=_ITERS, topk=5, rerank=50,
    ).drop("qid")


def _decontam_top1(hits):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a").orderBy(
        F.col("score_e6").desc(), F.col("id_b").asc()
    )
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("id_a").alias("vec_id"),
            F.col("id_b").alias("contaminant_id"),
            "score_e6",
        )
    )


def _semantic_decontam_banded(spark, sf_dir):
    """The recall-preserving scale path: banded hyperplane LSH
    (similarity.cross_near_pairs_banded at its defaults — L=28 tables
    x 8 bits since the round-12 recall contract, L=12 before —
    OR-amplified) instead of one AND-over-all-bits sign bucket. The
    recall probe records the S-curve's actual pair recall next to the
    pinned and scaled single-bucket forms; exact duplicates are never
    lost by construction."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.similarity import (
        cross_near_pairs_banded,
    )
    from oic_options_chains_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    tr = emb.filter(F.col("vec_id") % 10 != 0)
    return _decontam_top1(cross_near_pairs_banded(tr, ev, threshold=0.35))


def _semantic_decontam_fixed_eval(spark, sf_dir):
    """The real-deployment cost shape: benchmark/eval suites do NOT
    grow with the crawl, so the reference side is the sf0.1-sized eval
    population (200 vectors) at every curve point while the probe side
    scales. The pinned-bits operator is unchanged — this isolates the
    superlinear term to the synthetic both-sides-scale corpus: with a
    fixed reference the screen is linear in the probe corpus."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.similarity import cross_near_pairs
    from oic_options_chains_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    tr = emb.filter(F.col("vec_id") % 10 != 0)
    return _decontam_top1(cross_near_pairs(tr, ev, threshold=0.35, bits=4))


def _vl_build_scaled_shards(spark, sf_dir):
    """The documented q_vl_build scale knob (VERDICT r9 item 4): the
    per-shard window sort is the only super-constant stage, so n_shards
    grows with the corpus — docs-per-shard held at the sf0.1 operating
    point (5000/8 = 625) — instead of the oracle-pinned 8. At sf1 the
    pinned form sorts 6250 docs' segments per shard; this form sorts a
    constant ~625's, so the curve should flatten toward the row-local
    interleave cost."""
    from oic_options_chains_spark.operators.chunking import (
        interleave_media_segments,
        pack_grouped_stream_offsets,
    )
    from oic_options_chains_spark.sources.registry import (
        load_table,
        table_row_count,
    )

    d = load_table(spark, sf_dir, "documents")
    n_shards = max(8, table_row_count(sf_dir, "documents") // 625)
    segs = interleave_media_segments(d, tokens_per_seg=50, media_mod=1000)
    return pack_grouped_stream_offsets(
        segs.select("doc_id", "seg_idx", "kind", "n_tokens"),
        context=256,
        n_shards=n_shards,
    )


# scale-path variants of the fixed-parameter (oracle-checkable) queries:
# same operator, the at-scale knob turned the way its docstring says
SCALED_VARIANTS = {
    "q_semdedup@scaled_k": _semdedup_scaled_k,
    "q_semdedup@sub_lsh": _semdedup_sub_lsh,
    "q_minhash_lsh_pairs@hot_cap": _minhash_pairs_hot_cap,
    "q_knn_triangles@scaled_bits": _knn_triangles_scaled_bits,
    "q_ann_ivf_pq@scaled_codebook": _ann_ivf_pq_scaled,
    "q_ann_ivf_pq@rerank": _ann_ivf_pq_rerank,
    "q_semantic_decontam@scaled_bits": _semantic_decontam_scaled_bits,
    "q_semantic_decontam@banded": _semantic_decontam_banded,
    "q_semantic_decontam@fixed_eval": _semantic_decontam_fixed_eval,
    "q_vl_build@scaled_shards": _vl_build_scaled_shards,
}


# ---------------------------------------------------------------------------
# Quality-at-scale probes (VERDICT r8 item 5): runtime curves alone can
# hide an approximate operator whose AUTO-SCALED parameters quietly trade
# recall for speed as the corpus grows. Each probe returns recall in
# basis points at one scale point, measured against the in-tree exact
# oracle for that operator family.
# ---------------------------------------------------------------------------


def _recall_ann(spark, sf_dir) -> int:
    """Mean recall@5 of the sign-bucket IVF batch retrieval (bits
    auto-scaled by bits_for(n) — the knob under test) against exact
    brute-force cosine (similarity.ann_recall), over a 64-query sample."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.similarity import (
        ann_recall,
        batch_topk,
        batch_topk_ivf,
    )
    from oic_options_chains_spark.sources.registry import (
        load_table,
        table_row_count,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = table_row_count(sf_dir, "embeddings")
    step = max(1, n // 64)
    queries = e.filter((F.col("vec_id") % step == 0)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    queries = queries.localCheckpoint(eager=True)  # one sample, two consumers
    exact = batch_topk(e, queries, k=5)
    approx = batch_topk_ivf(e, queries, k=5)
    row = (
        ann_recall(exact, approx)
        .agg(F.avg("recall_bp").cast("bigint").alias("r"))
        .collect()[0]
    )
    return int(row["r"])


def _recall_ann_pq(spark, sf_dir, params=None) -> int:
    """Mean recall@5 of the full IVF-ADC path (q_ann_ivf_pq's operator:
    2-of-8 coarse probe + product-quantized scoring) against the exact
    integer-L2 top-5 over the same spread table, averaged over three
    query ids (each one-query ivf_pq_topk_batch call re-fits, so the
    sample is small by design). Absolute recall is LOW at the oracle-pinned bench
    parameters (8 sub-quantizers x 16 codewords over 2k-50k vectors is
    deliberately coarse so the oracle replay stays cheap) — the curve's
    job is detecting DECAY as the corpus grows, not grading the pinned
    codebook size. ``params`` (n -> ivf_pq_topk_batch kwargs) measures a
    scale-knob variant against the same exact ground truth."""
    from oic_options_chains_spark.sources.registry import table_row_count
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch
    from oic_options_chains_spark.queries.clustering import (
        _ITERS,
        _K,
        _K_SUB,
        _N_SUB,
        _spread,
    )
    from oic_options_chains_spark.sources.registry import load_table

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    dist = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("qv"),
            lambda x, y: (
                F.floor(x * 4096).cast("bigint")
                - F.floor(y * 4096).cast("bigint")
            )
            * (
                F.floor(x * 4096).cast("bigint")
                - F.floor(y * 4096).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    total_hits = 0
    query_ids = (0, 17, 101)
    n = table_row_count(sf_dir, "embeddings")
    kw = params(n) if params else dict(
        coarse_k=_K, n_probe=2, k_sub=_K_SUB, rerank=None
    )
    for qid in query_ids:
        approx = ivf_pq_topk_batch(
            e, [qid], n_sub=_N_SUB, iters=_ITERS, topk=5, **kw
        ).select("vec_id")
        q = e.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qv")
        )
        w = Window.orderBy(F.col("d").asc(), F.col("vec_id").asc())
        exact = (
            e.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(q))
            .select("vec_id", dist.alias("d"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("vec_id")
        )
        total_hits += exact.join(approx, "vec_id").count()
    return 10_000 * total_hits // (5 * len(query_ids))


def _pq_scaled_params(n: int) -> dict:
    """The IVF-PQ scale knobs: cells sized to ~1024 vectors (coarse_k
    grows with n), the probe fraction held at ~1/4 of cells, and a
    64-codeword sub-quantizer codebook (vs the oracle-pinned 16 —
    quantization error, not cell pruning, drives the measured decay:
    pinned recall fell 7333 -> 2666 bp from sf0.5 to sf2)."""
    coarse_k = max(8, n // 1024)
    # rerank=None: the scaled twin isolates codebook-size recovery of the
    # ADC-only decay, so it must not get the round-12 rerank=50 default
    return dict(
        coarse_k=coarse_k, n_probe=max(2, coarse_k // 4), k_sub=64,
        rerank=None,
    )


def _recall_lsh(spark, sf_dir) -> int:
    """PLANTED-pair recall of the production MinHash banding (8 hashes,
    4 rows x 2 bands, the q_minhash_lsh_pairs path end-to-end): every
    document gets a sibling with every 50th word dropped (a ~0.9-jaccard
    near-dup), the doubled corpus goes through the production
    shingle->signature->band->bucket-join, and recall = recovered
    sibling pairs / documents.

    Planted pairs — not the corpus's own similarity histogram — because
    the replicated scale fixtures rotate words per document, which
    destroys their natural high-similarity pairs: an expected-recall-
    over-histogram metric collapses to 0 at sf1 for DATA reasons
    (measured: s>=0.5 pair mass goes 8791bp-equivalent -> empty) and
    would misread as operator decay. The planted probe holds the pair
    difficulty CONSTANT across scale points, so any decay left is the
    operator's."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.minhash import (
        doc_shingles,
        lsh_candidate_pairs,
        minhash_band_keys,
    )
    from oic_options_chains_spark.sources.registry import (
        load_table,
        table_row_count,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sibling = d.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.array_join(
            F.filter(
                F.split(F.col("text"), " "),
                lambda w, i: (i + 1) % 50 != 0,
            ),
            " ",
        ).alias("text"),
    )
    corpus = d.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    ).unionByName(sibling)
    bands = minhash_band_keys(
        doc_shingles(corpus, "doc_id", "text", distinct=False), "doc_id"
    )
    cand = lsh_candidate_pairs(bands, "doc_id")
    hits = cand.filter(
        (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 2 == 0)
    ).count()
    return 10_000 * hits // table_row_count(sf_dir, "documents")


def _recall_ahash(spark, sf_dir) -> int:
    """Sibling recall of the banded aHash dedup: the q_ahash_dedup
    corpus pairs every document with its case-folded re-encode; the
    exact ground truth IS that sibling relation, so recall_bp =
    detected sibling pairs / documents. The banded search is pigeonhole-
    exact for Hamming<=3 (property-tested), so decay here would mean the
    HASH's invariance degrades on the corpus mix, not the index."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.queries import QUERIES
    from oic_options_chains_spark.sources.registry import table_row_count

    pairs = QUERIES["q_ahash_dedup"](spark, sf_dir)
    n_docs = table_row_count(sf_dir, "documents")
    siblings = pairs.filter(
        (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("doc_a") % 2 == 0)
    ).count()
    return 10_000 * siblings // n_docs


def _recall_simhash(spark, sf_dir) -> int:
    """Planted-sibling recall of the 64-bit SimHash path end-to-end:
    every document gets a ~2%-word-dropout sibling; recall = sibling
    pairs the production word-bucket candidates + Hamming<=3 verify
    recover, per document. The banded search is pigeonhole-exact at
    the threshold, so this series measures the HASH's sensitivity to
    small edits on the corpus mix — decay would mean token-weight
    drift, not an index failure."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.minhash import (
        doc_simhash,
        simhash_near_pairs,
    )
    from oic_options_chains_spark.sources.registry import (
        load_table,
        table_row_count,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sibling = d.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.array_join(
            F.filter(
                F.split(F.col("text"), " "),
                lambda w, i: (i + 1) % 50 != 0,
            ),
            " ",
        ).alias("text"),
    )
    corpus = d.select(
        (F.col("doc_id") * 2).alias("doc_id"), "text"
    ).unionByName(sibling)
    pairs = simhash_near_pairs(doc_simhash(corpus, "doc_id", "text"), "doc_id")
    hits = pairs.filter(
        (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 2 == 0)
    ).count()
    return 10_000 * hits // table_row_count(sf_dir, "documents")


def _recall_decontam_at(bits_mode):
    """Pair recall of the sign-bucket bipartite decontamination screen
    against EXACT cosine ground truth, over a ~64-vector eval sample:
    recall_bp = bucket-join pairs found / all pairs with cos >= 0.35.
    ``bits_mode`` 'pinned' replays the oracle form (bits=4); 'scaled'
    is the bits_for(n) scale path — recorded for BOTH so the curve
    shows what accuracy the speedup costs on this corpus."""

    def probe(spark, sf_dir) -> int:
        from pyspark.sql import functions as F

        from oic_options_chains_spark.operators.similarity import (
            bits_for,
            cosine,
            cross_near_pairs,
        )
        from oic_options_chains_spark.sources.registry import (
            load_table,
            table_row_count,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        n = table_row_count(sf_dir, "embeddings")
        step = max(1, (n // 10) // 64)
        ev = emb.filter(
            (F.col("vec_id") % 10 == 0)
            & ((F.col("vec_id") / 10).cast("bigint") % step == 0)
        ).localCheckpoint(eager=True)
        tr = emb.filter(F.col("vec_id") % 10 != 0)
        exact = (
            tr.crossJoin(
                F.broadcast(
                    ev.select(
                        F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("__e"),
                    )
                )
            )
            .filter(cosine(F.col("embedding"), F.col("__e")) >= 0.35)
            .count()
        )
        if exact == 0:
            return 10_000
        if bits_mode == "banded":
            from oic_options_chains_spark.operators.similarity import (
                cross_near_pairs_banded,
            )

            found = cross_near_pairs_banded(tr, ev, threshold=0.35).count()
        else:
            bits = 4 if bits_mode == "pinned" else bits_for(tr.count())
            found = cross_near_pairs(tr, ev, threshold=0.35, bits=bits).count()
        return 10_000 * found // exact

    return probe


def _recall_decontam_planted(target_cos: float, contract_cos: float | None = None):
    """PLANTED-pair recall of the banded decontamination screen at a
    CONTROLLED cosine — the recall-contract measurement (round 12;
    ``contract_cos`` added round 13 so the threshold-parametric default
    path — L solved by tables_for — is measurable at non-0.7 contracts
    too, q_decontam_t08's planted_c80 row).

    The corpus's own pair histogram is empty above cos ~0.5 (sf0.1: one
    pair at >= 0.5, none at >= 0.7), so recall at the contract
    thresholds is unmeasurable from natural pairs. Instead: for each of
    up to 256 eval vectors e, plant a probe twin
    t = c*ê + sqrt(1-c²)*u (u a deterministic md5-seeded unit direction
    orthogonalized against e), so cos(t, e) = c exactly; recall_bp =
    planted pairs recovered by cross_near_pairs_banded AT ITS DEFAULT
    (L, b) / pairs planted. The verify threshold sits 0.02 under the
    planted cosine so the measurement isolates the LSH screen (the
    exact-cosine verify never loses an admitted pair). Planting AT the
    threshold boundary is the worst case of the promised region —
    1-(1-p^b)^L is monotone in cosine."""

    def probe(spark, sf_dir) -> int:
        import hashlib
        import math

        import numpy as np
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            ArrayType,
            FloatType,
            LongType,
            StructField,
            StructType,
        )

        from oic_options_chains_spark.operators.similarity import (
            cross_near_pairs_banded,
        )
        from oic_options_chains_spark.sources.registry import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        ev = emb.filter(F.col("vec_id") % 10 == 0)
        ev_rows = ev.orderBy("vec_id").limit(256).collect()
        if not ev_rows:
            # eval-side-empty sf dir: the probe is unmeasurable, not a
            # crash — report 0 like the tool's other degenerate cases
            return 0

        def unit(v):
            return v / np.linalg.norm(v)

        def rand_dir(seed: int, dim: int):
            vals: list[float] = []
            ctr = 0
            while len(vals) < dim:
                h = hashlib.md5(f"plant:{seed}:{ctr}".encode()).digest()
                for b in range(0, 16, 4):
                    vals.append(
                        int.from_bytes(h[b : b + 4], "big") / 2**32 - 0.5
                    )
                ctr += 1
            return np.array(vals[:dim])

        base = 1_000_000_000
        rows = []
        for r in ev_rows:
            e = unit(np.array(r.embedding, dtype=np.float64))
            u = rand_dir(r.vec_id, len(e))
            u = unit(u - np.dot(u, e) * e)
            t = target_cos * e + math.sqrt(1 - target_cos**2) * u
            rows.append((base + int(r.vec_id), [float(x) for x in t]))
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(FloatType())),
            ]
        )
        twins = spark.createDataFrame(rows, schema)
        hits = (
            cross_near_pairs_banded(
                twins,
                ev.orderBy("vec_id").limit(256),
                threshold=target_cos - 0.02,
                **(
                    {"contract_cos": contract_cos}
                    if contract_cos is not None
                    else {}
                ),
            )
            .filter(F.col("id_b") == F.col("id_a") - base)
            .count()
        )
        return 10_000 * hits // len(rows)

    return probe


RECALL_PROBES = {
    "q_decontam_banded": {
        "planted_c50": _recall_decontam_planted(0.5),
        "planted_c70": _recall_decontam_planted(0.7),
        "planted_c90": _recall_decontam_planted(0.9),
    },
    # the non-default-contract keys measure AT THEIR OWN
    # parameterization: the solver's L=17 (0.8) / L=45 (0.6), not the
    # 0.7 contract's 28
    "q_decontam_t08": {
        "planted_c80": _recall_decontam_planted(0.8, contract_cos=0.8),
    },
    "q_decontam_t06": {
        "planted_c60": _recall_decontam_planted(0.6, contract_cos=0.6),
    },
    "q_ann_ivf_pq": {"ivf_batch": _recall_ann, "ivf_pq_q0": _recall_ann_pq},
    "q_ann_ivf_pq@scaled_codebook": {
        "ivf_pq_q0": lambda spark, sf_dir: _recall_ann_pq(
            spark, sf_dir, params=_pq_scaled_params
        )
    },
    "q_ann_ivf_pq@rerank": {
        "ivf_pq_q0": lambda spark, sf_dir: _recall_ann_pq(
            spark,
            sf_dir,
            params=lambda n: dict(coarse_k=8, n_probe=2, k_sub=16, rerank=50),
        )
    },
    "q_minhash_lsh_pairs": {"production_banding": _recall_lsh},
    "q_ahash_dedup": {"sibling_detection": _recall_ahash},
    "q_simhash_pairs": {"planted_siblings": _recall_simhash},
    "q_semantic_decontam": {"pair_recall": _recall_decontam_at("pinned")},
    "q_semantic_decontam@scaled_bits": {
        "pair_recall": _recall_decontam_at("scaled")
    },
    "q_semantic_decontam@banded": {
        "pair_recall": _recall_decontam_at("banded")
    },
}


def _materialize(df) -> None:
    """Force FULL computation of every output column. df.count() lets
    Catalyst prune projected expressions (a row-local rebuild times as
    a no-op); the noop sink computes all columns and discards rows."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--queries", nargs="+", default=DEFAULT_QUERIES)
    ap.add_argument(
        "--points",
        nargs="+",
        default=["0.1", "0.5", "1"],
        help="sf labels; each L maps to .scale/sf{L} (gen_scale --factors)",
    )
    ap.add_argument(
        "--zipf-point",
        default=None,
        metavar="L",
        help="also time each query on the skew twin .scale/zipf{L} and "
        "record skew_ratio vs the uniform sf{L} point (adversarial "
        "end-to-end: Zipf(1.2) keys double the hottest band/bucket "
        "populations; a plan that survives only on uniform data shows "
        "up as a ratio far above 1)",
    )
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALE_CURVE.json",
        ),
    )
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # all three points come from gen_scale.py's 32-part-file layout so
    # scan parallelism is CONSTANT across the curve — the driver's
    # single-row-group sf0.1 files are unsplittable (1 scan task), which
    # would fold a parallelism discontinuity into the slope
    points = [
        (label, os.path.join(repo, ".scale", f"sf{label}"))
        for label in args.points
    ]
    zipf = (
        (f"zipf{args.zipf_point}", os.path.join(repo, ".scale", f"zipf{args.zipf_point}"))
        if args.zipf_point
        else None
    )
    for _, d in [*points, *([zipf] if zipf else [])]:
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d}; run tools/gen_scale.py first")

    from oic_options_chains_spark.queries import QUERIES
    from oic_options_chains_spark.session import get_spark

    spark = get_spark(app_name="oic-bench-curve")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q_group_count"](spark, points[0][1]).count()  # warm-up

    results: dict[str, dict] = {}
    names = list(args.queries)
    if args.queries == DEFAULT_QUERIES:
        names += list(SCALED_VARIANTS)
    for name in names:
        fn = SCALED_VARIANTS.get(name) or QUERIES[name]
        row: dict[str, float] = {}
        # one DISCARDED run at the smallest point before timing: the
        # first measured query in a session otherwise pays whole-stage
        # codegen + JIT warm-up at its first (smallest!) point, which
        # shows up as an inverted/negative slope artifact
        try:
            _materialize(fn(spark, points[0][1]))
        except Exception:  # noqa: BLE001 — let the timed run surface it
            pass

        def _best_of(sf_dir: str) -> float:
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.perf_counter()
                _materialize(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            return round(best, 3)

        for sf, sf_dir in points:
            row[sf] = _best_of(sf_dir)
        # log-log slope between the endpoints, plus the LAST segment's
        # slope when the run has 3+ points (an added sf2 point must not
        # bend upward vs the sf0.1->sf1 fit: slope_last <= slope + noise)
        first, last = args.points[0], args.points[-1]
        slope = math.log(row[last] / row[first]) / math.log(
            float(last) / float(first)
        )
        results[name] = {**row, "slope": round(slope, 2)}
        if len(args.points) >= 3:
            prev = args.points[-2]
            results[name]["slope_last"] = round(
                math.log(row[last] / row[prev])
                / math.log(float(last) / float(prev)),
                2,
            )
        if zipf is not None:
            zlabel, zdir = zipf
            zt = _best_of(zdir)
            results[name][zlabel] = zt
            base = row.get(args.zipf_point)
            if base:
                results[name][f"skew_ratio:{zlabel}"] = round(zt / base, 2)
        # quality-at-scale: recall vs the exact oracle at every point
        for probe_name, probe in RECALL_PROBES.get(name, {}).items():
            series = {sf: probe(spark, sf_dir) for sf, sf_dir in points}
            results[name][f"recall_bp:{probe_name}"] = series
        print(json.dumps({"query": name, **results[name]}), flush=True)

    # merge with an existing curve file so targeted --queries runs extend
    # the recorded set instead of clobbering it
    merged = results
    if os.path.exists(args.out):
        try:
            with open(args.out) as fh:
                prev = json.load(fh).get("queries", {})
            merged = {**prev, **results}
        except (OSError, ValueError):
            pass
    with open(args.out, "w") as fh:
        json.dump(
            {
                "points_sf": [p[0] for p in points],
                "runs_per_point": args.runs,
                "queries": merged,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(f"# wrote {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
