"""Round-11 SemDeDup scale rework (VERDICT r10 item 2).

Two independent changes, each pinned bit-for-bit against the path it
replaces:

1. Large-k Lloyd assignment runs a BLAS matmul kernel
   (``_assign_clusters_vectorized``) instead of the interpreted JVM fold
   — the fold was the measured superlinear term of the scaled-k curve
   (O(n*k*d) interpreted ops, slope_last 1.16). The kernel replays the
   fold's exact integer moments and double expression shape, so the two
   paths must agree on every assignment.
2. ``semantic_dedup(sub_bits=None)`` routes PER CELL: cells past
   ``hot_cell_cap`` pair inside per-cell-width sign-LSH sub-buckets,
   everything else pairs exactly (the aHash hot-bucket pattern,
   phash.pairs_from_band_table). Identical vectors share every sign
   prefix, so exact duplicates survive any routing.
"""

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.kmeans import (
    _assign_clusters_vectorized,
    assign_clusters,
    kmeans_fit,
    quantize,
    semantic_dedup,
    semantic_dedup_auto_eps,
)
from oic_options_chains_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _kernel_and_fold(qv, cents, k):
    kern = sorted(
        (r.vec_id, r.cid)
        for r in _assign_clusters_vectorized(qv, cents, k_bound=k).collect()
    )
    fold = sorted((r.vec_id, r.cid) for r in assign_clusters(qv, cents).collect())
    return kern, fold


class TestVectorizedAssignment:
    @pytest.mark.parametrize("k", [8, 40])
    def test_kernel_matches_fold_bit_for_bit(self, emb, k):
        """Same corpus, same fitted centroids, both assignment paths:
        identical (vec_id, cid) for every row, at a small oracle-checked
        k (8) and a large one (40)."""
        _, cents = kmeans_fit(emb, k=k, iters=2)
        kern, fold = _kernel_and_fold(quantize(emb), cents, k)
        assert kern == fold
        assert len(kern) > 0

    def test_kernel_more_partitions_than_rows(self, emb):
        """Empty partitions next to non-empty ones: the kernel emits
        exactly the fold's rows, with the fold's schema."""
        _, cents = kmeans_fit(emb, k=8, iters=1)
        qv = quantize(emb).orderBy("vec_id").limit(3).repartition(8)
        kern, fold = _kernel_and_fold(qv, cents, 8)
        assert kern == fold
        assert len(kern) == 3
        assert (
            _assign_clusters_vectorized(qv, cents, k_bound=8).schema
            == assign_clusters(qv, cents).schema
        )

    def test_default_threshold_routing(self, emb):
        """Every fit assigns through the Arrow kernel at any k. The
        returned assignment is checkpoint-truncated (the final pass
        materializes once), so the routing is read from the captured
        pre-checkpoint lineage."""
        from oic_options_chains_spark.lineage import capture_checkpoints

        for k in (8, 40):
            with capture_checkpoints() as stages:
                kmeans_fit(emb, k=k, iters=1)
            default_plans = "\n".join(
                st.df._jdf.queryExecution().executedPlan().toString()
                for st in stages
            )
            assert "MapInPandas" in default_plans, k

    def test_kernel_partition_invariant(self, emb):
        """The integer-moment exactness claim holds for the kernel too:
        assignments cannot drift with input partitioning."""
        a1, _ = kmeans_fit(emb.repartition(1), k=40, iters=2)
        a7, _ = kmeans_fit(emb.repartition(7, "label"), k=40, iters=2)
        r1 = sorted((r.vec_id, r.cid) for r in a1.collect())
        r7 = sorted((r.vec_id, r.cid) for r in a7.collect())
        assert r1 == r7


def _as_pairs(df):
    return sorted(
        (r["vec_id"], r["cid"], r["keeper"], r["dist"]) for r in df.collect()
    )


class TestHotCellRouting:
    def test_default_equals_exact_under_cap(self, emb):
        """Gate-scale corpora cannot cross the 1024-member cap, so the
        routed default IS the exact pinned form — the oracle-parity
        guarantee for q_semdedup."""
        routed = semantic_dedup(emb, eps=22_000_000, k=8, iters=2)
        exact = semantic_dedup(emb, eps=22_000_000, k=8, iters=2, sub_bits=0)
        assert _as_pairs(routed) == _as_pairs(exact)

    def test_hot_cells_split_cold_cells_exact(self, emb):
        """Force a tiny cap: hot cells take the per-cell sub-LSH split
        (a subset of the exact pairs), cold cells stay bit-identical."""
        cap = 20
        routed = semantic_dedup(emb, eps=22_000_000, k=8, iters=2, hot_cell_cap=cap)
        exact = semantic_dedup(emb, eps=22_000_000, k=8, iters=2, sub_bits=0)
        r, e = _as_pairs(routed), _as_pairs(exact)
        # routing only ever REMOVES candidate pairs: the dropped set
        # shrinks, and each surviving row's keeper — the MIN qualifying
        # vid_lo — is taken over a subset, so it can only move UP
        exact_keeper = {(v, c): k for v, c, k, _d in e}
        assert len(r) <= len(e)
        for v, c, k, _d in r:
            assert (v, c) in exact_keeper
            assert k >= exact_keeper[(v, c)]
        # and the split actually engaged: with cap=20 on this corpus at
        # k=8, at least one cell is hot (guards against a vacuous test)
        from oic_options_chains_spark.operators.kmeans import (
            _hot_cell_widths,
            kmeans_fit,
        )

        assigned, _ = kmeans_fit(emb, k=8, iters=2)
        assert _hot_cell_widths(assigned, cap).count() > 0

    def test_exact_duplicates_survive_routing(self, spark):
        """Planted identical vectors share every sign prefix, so the
        router can never lose a true exact duplicate — the recall floor
        of the hot-cell split."""
        vecs = []
        for i in range(60):
            v = [float(((i % 5) * 17 + j * 3) % 13 - 6) / 7.0 for j in range(16)]
            vecs.append((i, v))
        emb = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
        # k=1 -> one mega-cell of 60; cap=8 forces the hot split
        out = semantic_dedup(emb, eps=0, k=1, iters=1, hot_cell_cap=8)
        dropped = {r["vec_id"] for r in out.collect()}
        # 5 distinct vectors, 12 copies each: every copy except the
        # lowest-id one of its group must be dropped (55 rows), each at
        # distance exactly 0
        assert dropped == set(range(60)) - set(range(5))
        assert all(r["dist"] == 0 for r in out.collect())

    def test_auto_eps_routed_still_deterministic(self, emb):
        """semantic_dedup_auto_eps with the routed default: same rows on
        repeated runs, and equal to the pinned-exact form at gate scale."""
        a = semantic_dedup_auto_eps(emb, pct_bp=100, k=8, iters=2)
        b = semantic_dedup_auto_eps(emb, pct_bp=100, k=8, iters=2, sub_bits=0)
        rows_a = sorted(tuple(r) for r in a.collect())
        rows_b = sorted(tuple(r) for r in b.collect())
        assert rows_a == rows_b
