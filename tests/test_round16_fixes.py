"""Round-16 optimization fixes (VERDICT r15 items 3 and 5, ADVICE r15).

1. ``assign_cells`` — the public assignment-only wrapper q_drift_cells
   uses (the fold: no eager centroid-collect job on a direct pass) —
   must agree bit-for-bit with the fit's kernel and keep Python out of
   its plan.
2. The bounded-collect guards are real raises (survive ``python -O``),
   and a driver-finish threshold of 0 keeps every round distributed.
   The threshold must not change results, only the execution route.
"""

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators import clusters
from oic_options_chains_spark.operators.clusters import connected_components
from oic_options_chains_spark.operators.kmeans import (
    _assign_clusters_vectorized,
    assign_cells,
    kmeans_fit,
    quantize,
)
from oic_options_chains_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


class TestAssignCells:
    def test_matches_kernel_bit_for_bit(self, emb):
        k = 8
        _, cents = kmeans_fit(emb, k=k, iters=2)
        qv = quantize(emb)
        fold = sorted(
            (r.vec_id, r.cid) for r in assign_cells(qv, cents).collect()
        )
        kern = sorted(
            (r.vec_id, r.cid)
            for r in _assign_clusters_vectorized(qv, cents, k_bound=k).collect()
        )
        assert fold == kern

    def test_default_plan_is_python_free_and_two_columns(self, emb):
        _, cents = kmeans_fit(emb, k=8, iters=2)
        out = assign_cells(quantize(emb), cents)
        assert out.columns == ["vec_id", "cid"]
        plan = out._jdf.queryExecution().toString()
        assert "MapInPandas" not in plan and "mapInPandas" not in plan

    def test_kernel_k_bound_guard_raises(self, emb):
        """The bounded-collect guard is a raise, not an assert: an
        oversized centroid relation must fail loudly under python -O
        instead of assigning against a silently truncated set."""
        _, cents = kmeans_fit(emb, k=8, iters=1)
        with pytest.raises(ValueError, match="centroid relation"):
            # true k is up to 8; claiming 2 must raise at plan build
            _assign_clusters_vectorized(quantize(emb), cents, k_bound=2)


class TestLocalFinishConf:
    def _pairs(self, spark):
        rows = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 11)]
        return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")

    def test_override_zero_keeps_rounds_distributed_same_labels(
        self, spark, monkeypatch
    ):
        pairs = self._pairs(spark)
        base = sorted(
            (r.id, r.cluster_id) for r in connected_components(pairs).collect()
        )
        monkeypatch.setattr(clusters, "LOCAL_FINISH_MAX_EDGES", 0)
        dist = sorted(
            (r.id, r.cluster_id) for r in connected_components(pairs).collect()
        )
        assert base == dist

    def test_override_applies_to_kcore(self, spark, monkeypatch):
        from oic_options_chains_spark.operators.graph import kcore_membership

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], "src bigint, dst bigint"
        )
        nodes = spark.createDataFrame(
            [(i,) for i in range(1, 6)], "node bigint"
        )
        base = sorted(
            (r.node, r.in_core, r.core_degree)
            for r in kcore_membership(nodes, edges, k=2, rounds=4).collect()
        )
        monkeypatch.setattr(clusters, "LOCAL_FINISH_MAX_EDGES", 0)
        dist = sorted(
            (r.node, r.in_core, r.core_degree)
            for r in kcore_membership(nodes, edges, k=2, rounds=4).collect()
        )
        assert base == dist


class TestBucketKnnKernel:
    """The per-bucket Gram kernel (r16) must replay the r15 pair-join +
    interpreted-fold + ranking-window construction bit-for-bit: same
    distances (moment expansion == elementwise fold, both exact int64)
    and the same (dist, dst) tie-break."""

    @pytest.mark.parametrize("bits", [None, 4])
    def test_kernel_matches_join_window_construction(self, emb, bits):
        from oic_options_chains_spark.operators.graph import (
            _l2_int,
            bucketed_knn_edges,
            knn_from_candidates,
        )
        from oic_options_chains_spark.operators.kmeans import QUANT
        from oic_options_chains_spark.operators.similarity import (
            _resolve_bits,
        )

        new = sorted(
            (r.src, r.dst, r.dist)
            for r in bucketed_knn_edges(emb, k=6, bits=bits).collect()
        )
        b_ = _resolve_bits(emb, bits)
        sign = F.concat(
            *[
                F.when(
                    F.element_at(F.col("embedding"), i + 1) > 0, F.lit("1")
                ).otherwise(F.lit("0"))
                for i in range(b_)
            ]
        )
        q = emb.select(
            F.col("vec_id"),
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * QUANT)
            ).alias("qarr"),
            sign.alias("__b"),
        )
        a = q.select(
            F.col("vec_id").alias("src"), F.col("qarr").alias("__qa"), "__b"
        )
        b = q.select(
            F.col("vec_id").alias("dst"), F.col("qarr").alias("__qb"), "__b"
        )
        half = (
            a.join(b, "__b")
            .filter(F.col("src") < F.col("dst"))
            .select(
                "src",
                "dst",
                _l2_int(F.col("__qa"), F.col("__qb")).alias("dist"),
            )
        )
        pairs = half.union(
            half.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "dist"
            )
        )
        old = sorted(
            (r.src, r.dst, r.dist)
            for r in knn_from_candidates(pairs, 6).collect()
        )
        assert new == old

    def test_kernel_partition_invariant(self, emb):
        from oic_options_chains_spark.operators.graph import (
            bucketed_knn_edges,
        )

        e1 = sorted(
            (r.src, r.dst, r.dist)
            for r in bucketed_knn_edges(emb.repartition(1), k=6).collect()
        )
        e7 = sorted(
            (r.src, r.dst, r.dist)
            for r in bucketed_knn_edges(
                emb.repartition(7, "label"), k=6
            ).collect()
        )
        assert e1 == e7


def test_drift_cells_uses_fold_route(spark, sf_dir):
    """q_drift_cells' direct assignment stays Python-free (the r16
    reclaim): its captured lineage must not contain a MapInPandas node
    OUTSIDE the fit (the fit's kernel assignments are expected)."""
    from oic_options_chains_spark.queries import QUERIES

    df = QUERIES["q_drift_cells"](spark, sf_dir)
    # the final (post-fit) plan: counts/shares over the fold assignment
    plan = df._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan and "mapInPandas" not in plan
