"""The float64-screened exact PQ assignment kernel is bit-identical to
the interpreted decimal argmin fold.

``assign_codes(k_bound=k_sub)`` runs ``_assign_codes_vectorized`` —
per subspace one int64 Gram matmul plus a float64 screening score,
with every screen-ambiguous cell re-compared EXACTLY in Python ints
under the fold's strict-< / earlier-cid-wins rule. The fold remains
the executable documentation of the comparator; this suite pins
kernel == fold on the real corpus AND on adversarial fixtures where
the float64 screen is provably unable to separate the cells (rational
distances differing at relative ~2^-57), so only a correct exact
fallback can pass.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.kmeans import quantize
from oic_options_chains_spark.operators.pq import (
    _assign_codes_vectorized,
    _pq_fit_qv,
    assign_codes,
)

CB_SCHEMA = "sub int, cid bigint, sarr array<bigint>, n bigint, ss decimal(38,0)"
# magnitude where float64 cannot resolve +-0.25 on the squared-distance
# rational: ulp(2^55) = 8, so num/nn values 74+K and 74+K+-0.25 screen
# to the SAME float — the exact fallback alone decides the argmin
K = 2**55


def _qv(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, qarr array<bigint>")


def _books(spark, cells):
    # every fixture keeps subspace 1 trivial (one zero cell, cid 0) so
    # the adversarial geometry lives entirely in subspace 0
    return spark.createDataFrame(
        cells + [(1, 0, [0, 0], 1, Decimal(0))], CB_SCHEMA
    )


def _codes(df):
    return sorted((r.vec_id, list(r.codes)) for r in df.collect())


class TestAdversarialFixtures:
    """qarr = [5, 7 | 1, 2], sub_dim=2: a = 74 in subspace 0. Cells use
    sarr=[0,0] (b = 0) with n and ss chosen so num/n^2 lands exactly on
    74+K, 74+K+1/4 or 74+K-1/4 — separations thousands of times below
    one float64 ulp at this magnitude."""

    QROWS = [(1, [5, 7, 1, 2])]

    def _both(self, spark, cells):
        qv = _qv(spark, self.QROWS)
        books = _books(spark, cells)
        kern = _codes(
            _assign_codes_vectorized(qv, books, n_sub=2, sub_dim=2, k_bound=4)
        )
        fold = _codes(assign_codes(qv, books, n_sub=2, sub_dim=2))
        return kern, fold

    def test_exact_tie_keeps_lower_cid(self, spark):
        # num(3)/1 = 74+K == num(7)/4 = (296+4K)/4: exact rational tie
        cells = [
            (0, 3, [0, 0], 1, Decimal(K)),
            (0, 7, [0, 0], 2, Decimal(4 * K)),
        ]
        kern, fold = self._both(spark, cells)
        assert kern == fold
        assert kern[0][1][0] == 3

    def test_quarter_ulp_nearer_first_cell(self, spark):
        # num(10)/1 = 74+K beats num(20)/4 = 74+K+1/4 — but both screen
        # to the identical float64 value
        cells = [
            (0, 10, [0, 0], 1, Decimal(K)),
            (0, 20, [0, 0], 2, Decimal(4 * K + 1)),
        ]
        kern, fold = self._both(spark, cells)
        assert kern == fold
        assert kern[0][1][0] == 10

    def test_quarter_ulp_nearer_second_cell(self, spark):
        # num(20)/4 = 74+K-1/4 strictly beats num(10)/1 = 74+K: the
        # LATER cid must win despite the tie-on-screen
        cells = [
            (0, 10, [0, 0], 1, Decimal(K)),
            (0, 20, [0, 0], 2, Decimal(4 * K - 1)),
        ]
        kern, fold = self._both(spark, cells)
        assert kern == fold
        assert kern[0][1][0] == 20

    def test_k_bound_guard_raises(self, spark):
        qv = _qv(spark, self.QROWS)
        books = _books(
            spark,
            [
                (0, 3, [0, 0], 1, Decimal(K)),
                (0, 7, [0, 0], 2, Decimal(4 * K)),
            ],
        )
        with pytest.raises(ValueError, match="codebook relation"):
            # 2 subspaces x k_bound 1 = 2 < 3 codebook rows
            _assign_codes_vectorized(
                qv, books, n_sub=2, sub_dim=2, k_bound=1
            ).collect()

    def test_empty_subspace_raises(self, spark):
        qv = _qv(spark, self.QROWS)
        books = spark.createDataFrame(
            [(0, 3, [0, 0], 1, Decimal(K))], CB_SCHEMA
        )
        with pytest.raises(ValueError, match="subspace 1"):
            _assign_codes_vectorized(
                qv, books, n_sub=2, sub_dim=2, k_bound=4
            ).collect()


class TestCorpusParity:
    def test_fit_matches_fold_bit_for_bit(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qv = quantize(emb)
        coded_k, books_k = _pq_fit_qv(
            qv, n_sub=8, k_sub=16, iters=2, sub_dim=8
        )
        coded_f, books_f = _pq_fit_qv(
            qv, n_sub=8, k_sub=16, iters=2, sub_dim=8, vectorized_assign=False
        )
        assert coded_k.schema == coded_f.schema
        ck = coded_k.select("vec_id", "codes")
        cf = coded_f.select("vec_id", "codes")
        assert ck.exceptAll(cf).count() == 0
        assert cf.exceptAll(ck).count() == 0
        assert ck.count() == cf.count() > 0
        bk = sorted(
            (r.sub, r.cid, list(r.sarr), r.n, r.ss)
            for r in books_k.collect()
        )
        bf = sorted(
            (r.sub, r.cid, list(r.sarr), r.n, r.ss)
            for r in books_f.collect()
        )
        assert bk == bf

    def test_kernel_output_schema_matches_fold(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qv = quantize(emb)
        _, books = _pq_fit_qv(qv, n_sub=8, k_sub=16, iters=1, sub_dim=8)
        kern = assign_codes(qv, books, n_sub=8, sub_dim=8, k_bound=16)
        fold = assign_codes(qv, books, n_sub=8, sub_dim=8, k_bound=None)
        assert [f.name for f in kern.schema.fields] == [
            f.name for f in fold.schema.fields
        ]
        assert (
            kern.schema["codes"].dataType.simpleString()
            == fold.schema["codes"].dataType.simpleString()
            == "array<int>"
        )

    def test_more_partitions_than_rows(self, spark, sf_dir):
        """Empty partitions next to non-empty ones: the kernel emits
        exactly the fold's rows."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qv_all = quantize(emb)
        _, books = _pq_fit_qv(qv_all, n_sub=8, k_sub=16, iters=1, sub_dim=8)
        qv = qv_all.orderBy("vec_id").limit(3).repartition(8)
        kern = _codes(assign_codes(qv, books, n_sub=8, sub_dim=8, k_bound=16))
        fold = _codes(assign_codes(qv, books, n_sub=8, sub_dim=8))
        assert kern == fold
        assert len(kern) == 3
