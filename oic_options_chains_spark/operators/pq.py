"""Product quantization (PQ) over an embedding column, plus IVF-ADC
retrieval: the FAISS IVFPQ design re-expressed relationally.

PQ splits each vector into ``n_sub`` subvectors and learns a small
k-means codebook PER SUBSPACE; a vector's code is its ``n_sub`` nearest
sub-centroid ids. Retrieval scores candidates by Asymmetric Distance
Computation (ADC): the query's exact distance to every sub-centroid is
tabulated once (n_sub * k_sub rows), and a candidate's score is the sum
of 8 table lookups — no candidate vector is ever read. At 100 TB this is
THE memory story for ANN: the corpus persists as (vec_id, 8 small ints)
— ~8 bytes/vector instead of dim*4 — and the scan side of retrieval
touches codes only.

Cross-engine exactness (the post-round-3 discipline — no double ever
decides anything):

- Sub-centroid state is the same integer-moment triple the coarse
  k-means keeps (``kmeans._centroid_state``): quantized sums sarr,
  member count n, decimal ss. The squared distance to cell (sarr, n) is
  the rational num/n^2 with num = a*n^2 - 2*b*n + ss, all integer.
- Assignment argmin compares cells PAIRWISE by exact decimal(38,0)
  cross-multiplication (num_i * nn_j < num_j * nn_i) — the comparator
  q_ann_ivf_kmeans's probe ranking established; the DuckDB oracle runs
  the identical comparison in HUGEINT (count-of-cells-ahead = 0).
- The ADC table needs distances on a COMMON scale to sum across
  subspaces, so each entry is the scaled integer floor(num * 2^20 /
  n^2), materialized by decimal(38,0) ``div`` on a 128-row relation.
  num >= 0, so Spark's div and DuckDB's // agree exactly (trunc ==
  floor), and the 2^-20 relative quantization is part of the operator's
  DEFINITION, shared verbatim by the oracle — not a tolerance.

Shuffle budget: assignment is a pure projection (the whole codebook —
n_sub * k_sub cells — collapses into ONE broadcast row; per row, 8
slice-folds pick 8 codes). Each training update is one map-side-combined
(sub, cid, pos) exchange bounded by n_sub*k_sub*sub_dim keys. Retrieval
shuffles candidate (vec_id, sub) code rows once for the score sum.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.kmeans import (
    _dec,
    _fold_sum_long,
    kmeans_fit,
    quantize,
)

ADC_SHIFT = 1 << 20  # ADC table scale: floor(num * 2^20 / n^2)

def _dec_zero():
    # built per call: Column construction needs an active session
    return F.lit(0).cast("decimal(38,0)")


def _subvector(qarr: Column, sub: Column | int, sub_dim: int) -> Column:
    """slice() is 1-indexed; ``sub`` is the 0-based subspace index."""
    start = (
        F.lit(1) + (sub if isinstance(sub, Column) else F.lit(sub)) * sub_dim
    )
    return F.slice(qarr, start, sub_dim)


def _cell_num(sq: Column, a: Column, cell: Column) -> Column:
    """Exact integer numerator of the squared distance rational
    num/n^2 between subvector ``sq`` (with precomputed a = sum(sq^2))
    and centroid cell struct (cid, sarr, n, ss): a*n^2 - 2*b*n + ss,
    decimal(38,0) throughout."""
    b = _fold_sum_long(F.zip_with(sq, cell["sarr"], lambda x, y: x * y))
    n = _dec(cell["n"])
    return _dec(a) * n * n - _dec(F.lit(2)) * _dec(b) * n + _dec(cell["ss"])


def _argmin_code(sq: Column, cells: Column) -> Column:
    """The cid of the exact-rational-nearest cell in the cid-ascending
    ``cells`` array: score every cell ONCE into a (num, nn, cid) array,
    then a running fold keeps the best iff the candidate is STRICTLY
    nearer (num_c * nn_best < num_best * nn_c) — ties keep the earlier
    (lower) cid, mirroring the oracle's count-ahead = 0 with the
    tie-break on cid.

    The single-pass shape matters: HOF lambdas are interpreted with no
    common-subexpression elimination, so (a) a fold whose when/otherwise
    re-derives the candidate score evaluates the ``_cell_num`` subvector
    fold TWICE per step, and (b) materializing a scored array but then
    referencing it from init/slice/fold re-evaluates the WHOLE array
    per reference (measured 2x worse). The fix is one transform (each
    cell scored exactly once) consumed by exactly ONE fold, seeded with
    an nn = 0 sentinel the first cell always replaces. An array_min
    cannot express the exact cross-multiplied rational order; the fold
    can."""
    a = _fold_sum_long(F.zip_with(sq, sq, lambda x, y: x * y))

    def scored(cell: Column) -> Column:
        n = _dec(cell["n"])
        return F.struct(
            _cell_num(sq, a, cell).alias("num"),
            (n * n).alias("nn"),
            cell["cid"].alias("cid"),
        )

    def merge(acc: Column, c: Column) -> Column:
        return F.when(
            (acc["nn"] == _dec_zero()) | (c["num"] * acc["nn"] < acc["num"] * c["nn"]),
            c,
        ).otherwise(acc)

    empty = F.struct(
        _dec_zero().alias("num"),
        _dec_zero().alias("nn"),
        F.lit(None).cast("bigint").alias("cid"),
    )
    return F.aggregate(F.transform(cells, scored), empty, merge)["cid"]


def _pq_centroid_state(coded_long: DataFrame, subvec: Column) -> DataFrame:
    """(sub, cid, sarr, n, ss) from (vec_id, sub, code, <subvec>) rows —
    the per-subspace analog of ``kmeans._centroid_state``. One
    map-side-combined (sub, cid, pos) exchange, bounded by
    n_sub * k_sub * sub_dim keys at any corpus size."""
    # member count fused into the exploded aggregation exactly as in
    # kmeans._centroid_state (optimization r15): per-(sub, cid, pos)
    # row count == member count, so the second reference to
    # ``coded_long`` (a full assignment pass when un-materialized) and
    # the count join disappear. Same non-null fixed-dim precondition.
    long = coded_long.select(
        "sub", F.col("code").alias("cid"), F.posexplode(subvec).alias("pos", "q")
    )
    sums = long.groupBy("sub", "cid", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("__n")
    )
    return sums.groupBy("sub", "cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda e: e["s"]
        ).alias("sarr"),
        F.sum(_dec(F.col("s")) * _dec(F.col("s"))).alias("ss"),
        F.max("__n").alias("n"),
    )


def _pack_codebooks(codebooks: DataFrame, n_sub: int) -> DataFrame:
    """Collapse (sub, cid, sarr, n, ss) into ONE broadcastable row:
    element s+1 of ``books`` is subspace s's cid-ascending cell array.
    Subspaces are seeded identically so none can be empty."""
    per_sub = codebooks.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct("cid", "sarr", "n", "ss"))).alias(
            "cells"
        )
    )
    return per_sub.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cells"))),
            lambda e: e["cells"],
        ).alias("books")
    )


# Float64 error budget of the kernel's screening score
# f = a - 2b/n + ss/n^2, in ulps (u = 2**-53) of M = |a| + |2b/n| +
# |ss/n^2|: a -> float64 costs 1, 2b/n costs 2 (convert b, divide),
# ss/n^2 costs 3 (convert ss, square n, divide), and each of the two
# additions costs 1. The error bound doubles that first-order sum to
# cover the second-order terms and the rounding of M and f_min + eps.
_SCREEN_TERM_ULPS = 1 + 2 + 3 + 1 + 1
_SCREEN_ERR_REL = 2 * _SCREEN_TERM_ULPS * 2.0**-53


def _assign_codes_vectorized(
    qv: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    k_bound: int,
) -> DataFrame:
    """The Arrow path for PQ code assignment: bit-identical to the
    ``_argmin_code`` fold. The exact comparator overflows int64 at
    corpus-sized n, so the kernel uses a FLOAT64 SCREEN WITH AN EXACT
    FALLBACK:

    - per subspace, a = sum(q^2) and b = q . sarr are exact int64
      matmuls (same legal range as the JVM bigint fold);
    - the screening score f = a - 2b/n + ss/n^2 is float64, within
      ``_SCREEN_ERR_REL * M`` of its exact value;
    - every cell within twice that bound of the screened minimum is
      re-compared EXACTLY in Python ints with the fold's strict-< /
      earlier-cid-wins rule, so exact ties resolve like the fold.

    Runs a driver collect of the codebooks when called, guarded at
    ``n_sub * k_bound`` rows (raise, not assert)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    rows = (
        codebooks.select("sub", "cid", "sarr", "n", "ss")
        .limit(n_sub * k_bound + 1)
        .collect()
    )
    if len(rows) > n_sub * k_bound:
        raise ValueError(
            f"codebook relation holds >{n_sub * k_bound} rows; pass the"
            " true k_sub as k_bound"
        )
    import numpy as np

    subs: list[dict] = []
    for s in range(n_sub):
        cells = sorted(
            (r for r in rows if r["sub"] == s), key=lambda r: r["cid"]
        )
        if not cells:
            raise ValueError(f"subspace {s} has no codebook cells")
        nf = np.array([r["n"] for r in cells], dtype=np.float64)
        ss_f = np.array([float(r["ss"]) for r in cells], dtype=np.float64)
        subs.append(
            {
                "cids": np.array([r["cid"] for r in cells], dtype=np.int64),
                "S": np.array([r["sarr"] for r in cells], dtype=np.int64),
                "nf": nf,
                "ssn_f": ss_f / (nf * nf),
                "n_int": [int(r["n"]) for r in cells],
                "nn_int": [int(r["n"]) ** 2 for r in cells],
                "ss_int": [int(r["ss"]) for r in cells],
            }
        )

    schema = StructType(
        [
            qv.schema["vec_id"],
            qv.schema["qarr"],
            # nullable=False: matches the fold's transform-over-sequence
            # output (the kernel never emits a null codes array either)
            StructField("codes", ArrayType(IntegerType()), False),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                # output need not be 1:1 with batches; an empty frame
                # would carry no dtypes for the Arrow cast
                continue
            qm = np.array(pdf["qarr"].tolist(), dtype=np.int64)
            nrows = len(pdf)
            codes = np.empty((nrows, n_sub), dtype=np.int64)
            for s, cb in enumerate(subs):
                qs = qm[:, s * sub_dim : (s + 1) * sub_dim]
                a = (qs * qs).sum(axis=1)
                bmat = qs @ cb["S"].T
                af = a.astype(np.float64)
                t2 = (2.0 * bmat) / cb["nf"][None, :]
                f = af[:, None] - t2 + cb["ssn_f"][None, :]
                best = np.argmin(f, axis=1)
                fmin = f[np.arange(nrows), best]
                mag = (
                    af[:, None] + np.abs(t2) + cb["ssn_f"][None, :]
                )
                err = _SCREEN_ERR_REL * mag.max(axis=1)
                # the computed minimum and the true argmin each sit
                # within err of their exact scores, so a slack of
                # 2 * err keeps the true argmin (and its exact ties)
                # among the candidates
                eps = 2.0 * err
                cand_count = (f <= (fmin + eps)[:, None]).sum(axis=1)
                for i in np.nonzero(cand_count > 1)[0]:
                    cand = np.nonzero(f[i] <= fmin[i] + eps[i])[0]
                    ai = int(a[i])
                    bj = None
                    bnum = bnn = 0
                    for j in cand:  # ascending cid order
                        num = (
                            ai * cb["nn_int"][j]
                            - 2 * int(bmat[i, j]) * cb["n_int"][j]
                            + cb["ss_int"][j]
                        )
                        nn = cb["nn_int"][j]
                        if bj is None or num * bnn < bnum * nn:
                            bj, bnum, bnn = j, num, nn
                    best[i] = bj
                codes[:, s] = cb["cids"][best]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "qarr": pdf["qarr"],
                    "codes": list(codes.astype(np.int32)),
                }
            )

    return qv.mapInPandas(kernel, schema)


def assign_codes(
    qv: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    k_bound: int | None = None,
) -> DataFrame:
    """(vec_id, qarr, codes): every vector's n_sub nearest sub-centroid
    ids.

    With ``k_bound`` (the true k_sub) this runs the Arrow kernel
    (:func:`_assign_codes_vectorized`), which runs a driver collect of
    the n_sub * k_sub codebook rows when ``assign_codes`` is called.
    With ``k_bound=None`` it is the lazy broadcast-fold projection:
    zero shuffle, no collect, an interpreted decimal argmin per row.
    Both give identical codes."""
    if k_bound is not None:
        return _assign_codes_vectorized(qv, codebooks, n_sub, sub_dim, k_bound)
    packed = _pack_codebooks(codebooks, n_sub)
    with_books = qv.crossJoin(F.broadcast(packed))
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda s: _argmin_code(
            _subvector(F.col("qarr"), s, sub_dim), F.element_at("books", s + 1)
        ).cast("int"),
    )
    return with_books.select("vec_id", "qarr", codes.alias("codes"))


def pq_fit(
    embeddings: DataFrame,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 2,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus: returns
    (codes, codebooks) with codes = (vec_id, qarr, codes array<int>)
    and codebooks = (sub, cid, sarr, n, ss).

    ``sub_dim`` is pinned by the caller (vectors are fixed-dim by schema
    contract; deriving it from data would cost an action at plan time).
    Seeding matches the coarse k-means: the k_sub lowest ids ACTUALLY
    PRESENT seed singleton cells per subspace (cid = seed vec_id) via a
    sort-limit, so every subspace trains on identical ids on any id
    space — dense, sparse, or offset — and the oracle unrolls the same
    Lloyd recursion keyed by (sub, cid)."""
    qv = quantize(embeddings, id_col, vec_col)
    return _pq_fit_qv(qv, n_sub, k_sub, iters, sub_dim)


def _pq_fit_qv(
    qv: DataFrame,
    n_sub: int,
    k_sub: int,
    iters: int,
    sub_dim: int = 8,
    # the kernel is the fit default: its per-iteration codebook collect
    # is negligible (n_sub x k_sub rows), and the screened-exact argmin
    # replaces the most expensive interpreted expression in the family
    vectorized_assign: bool = True,
) -> tuple[DataFrame, DataFrame]:
    # iters=0 would fall through the update loop with coded=None and
    # crash downstream callers (ivf_pq_topk_batch) far from the cause
    if iters < 1:
        raise ValueError(f"pq_fit requires iters >= 1, got {iters}")
    seeds = qv.orderBy("vec_id").limit(k_sub)
    seed_long = seeds.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sub - 1)),
                lambda s: _subvector(F.col("qarr"), s, sub_dim),
            )
        ).alias("sub", "sq"),
    ).select("vec_id", "sub", F.col("vec_id").alias("code"), "sq")
    codebooks = _pq_centroid_state(seed_long, F.col("sq")).cache()
    coded = None
    for it in range(iters):
        coded = assign_codes(
            qv,
            codebooks,
            n_sub,
            sub_dim,
            k_bound=k_sub if vectorized_assign else None,
        )
        if it == iters - 1:
            # the final encode pass used to run twice — once filling
            # the last codebook cache and once for the consumer of
            # ``coded`` — and the n_sub x k_sub decimal argmin fold is
            # the most expensive per-row expression in the family
            # (optimization r15, the kmeans_fit twin). Materialize it
            # once; codebooks and consumers read the materialized rows.
            coded = coded.localCheckpoint(eager=True)
        coded_long = coded.select(
            "vec_id",
            F.posexplode("codes").alias("sub", "code"),
            F.col("qarr"),
        ).select(
            "vec_id",
            "sub",
            "code",
            _subvector(F.col("qarr"), F.col("sub"), sub_dim).alias("sq"),
        )
        codebooks = _pq_centroid_state(coded_long, F.col("sq")).cache()
    return coded, codebooks


def _fit_both(
    embeddings: DataFrame,
    qv: DataFrame,
    coarse_k: int,
    n_sub: int,
    k_sub: int,
    iters: int,
    id_col: str,
    vec_col: str,
):
    """Run the coarse k-means fit and the PQ codebook fit CONCURRENTLY
    from two driver threads (optimization r15, guide §2.6 "overlap
    independent jobs"): the two fits are independent job chains of
    mostly tiny sequential stages whose eager final-pass checkpoints
    previously materialized back-to-back, leaving the cluster idle
    through each other's scheduling latency. Spark's scheduler runs
    concurrent driver-thread jobs FIFO with back-fill; both fits are
    internally deterministic, so results are bit-identical to the
    sequential form. Returns ((assigned, centroids), (coded,
    codebooks))."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(
            kmeans_fit,
            embeddings,
            coarse_k,
            iters,
            id_col,
            vec_col,
        )
        # the CONCURRENT pq fit keeps the JVM fold (vectorized_assign
        #=False): the coarse fit's Arrow assignment kernel already
        # saturates the Python worker pool, and routing the pq side
        # through mapInPandas too makes the two fits contend for it
        # instead of overlapping JVM work with Python work (interleaved
        # min-of-5 A/B at sf0.1: q_ann_ivf_pq 2.71/2.74 s kernel vs
        # 2.27/2.52 s fold; q_pq_codes — a STANDALONE fit, no coarse
        # twin — moves the other way, 1.13/1.38 kernel vs 1.39/1.58
        # fold, which is why _pq_fit_qv keeps the kernel default)
        f_pq = pool.submit(
            _pq_fit_qv, qv, n_sub, k_sub, iters, vectorized_assign=False
        )
        return f_coarse.result(), f_pq.result()


class IvfPqIndex(NamedTuple):
    """The four relations of a trained IVF-PQ index — everything
    retrieval needs besides the raw vectors (which only the bounded
    exact re-rank reads):

    - ``assigned``  (vec_id, cid): coarse cell membership
    - ``centroids`` (cid, sarr, n, ss): coarse centroid integer moments
    - ``codes``     (vec_id, codes array<int>): the PQ code table — the
      ~8-bytes-per-vector relation the ADC scan reads INSTEAD of the
      corpus
    - ``codebooks`` (sub, cid, sarr, n, ss): sub-quantizer moments

    All integer/decimal by the module's cross-engine discipline, so a
    parquet round-trip is exact: a served query returns bit-for-bit the
    rows an inline fit would."""

    assigned: DataFrame
    centroids: DataFrame
    codes: DataFrame
    codebooks: DataFrame


_INDEX_COLS = {
    "assigned": {"vec_id", "cid"},
    "centroids": {"cid", "sarr", "n", "ss"},
    "codes": {"vec_id", "codes"},
    "codebooks": {"sub", "cid", "sarr", "n", "ss"},
}


def _check_index(index: IvfPqIndex) -> None:
    for part, want in _INDEX_COLS.items():
        got = set(getattr(index, part).columns)
        if not want <= got:
            raise ValueError(
                f"IvfPqIndex.{part} lacks contract columns "
                f"{sorted(want - got)}; got {sorted(got)}"
            )


def ivf_pq_fit_index(
    embeddings: DataFrame,
    coarse_k: int = 8,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfPqIndex:
    """Train the full IVF-PQ index (coarse k-means + per-subspace
    codebooks + corpus codes) as one epoch job. The serving split
    VERDICT r12's shape items established for the dedup screens applies
    verbatim to ANN: at 100 TB the index is trained once and queried
    millions of times, so the fit must not ride along on every query —
    :func:`materialize_ivf_pq_index` persists this result and
    :func:`ivf_pq_topk_batch` consumes it via ``index=``. Both fits are
    deterministic (lowest-id seeding, integer Lloyd updates), so served
    answers are bit-for-bit the inline fit's — the same property that
    lets the DuckDB oracles replay the training recursion."""
    qv = quantize(embeddings, id_col, vec_col)
    (assigned, centroids), (coded, codebooks) = _fit_both(
        embeddings, qv, coarse_k, n_sub, k_sub, iters, id_col, vec_col
    )
    return IvfPqIndex(
        assigned=assigned.select("vec_id", "cid"),
        centroids=centroids.select("cid", "sarr", "n", "ss"),
        codes=coded.select("vec_id", "codes"),
        codebooks=codebooks.select("sub", "cid", "sarr", "n", "ss"),
    )


def materialize_ivf_pq_index(
    embeddings: DataFrame,
    path: str,
    coarse_k: int = 8,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the trained index as four parquet tables under ``path``
    (subdirectories named as the IvfPqIndex fields). Sizes at 100 TB:
    codes ~8 B/vector, assigned ~12 B/vector, centroids + codebooks a
    few KB total — the whole artifact is ~1% of the corpus it serves."""
    idx = ivf_pq_fit_index(
        embeddings,
        coarse_k=coarse_k,
        n_sub=n_sub,
        k_sub=k_sub,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    for part in IvfPqIndex._fields:
        getattr(idx, part).write.mode("overwrite").parquet(
            f"{path}/{part}"
        )


def read_ivf_pq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    """Read back a :func:`materialize_ivf_pq_index` artifact as plain
    parquet scans (schema-checked)."""
    idx = IvfPqIndex(
        **{p: spark.read.parquet(f"{path}/{p}") for p in IvfPqIndex._fields}
    )
    _check_index(idx)
    return idx


def adc_table_batch(
    codebooks: DataFrame, queries: DataFrame, sub_dim: int = 8
) -> DataFrame:
    """(qid, sub, cid, sd): each query's scaled integer distance
    floor(num * 2^20 / n^2) to every sub-centroid — the ADC lookup
    tables, q x n_sub x k_sub rows, one broadcast cross product of two
    tiny relations (decimal(38,0) ``div``). ``queries`` is (qid,
    q_qarr). The subspace count is NOT a parameter: it comes from the
    codebooks' own ``sub`` column, so a served (index=) path cannot
    desync from the artifact's training."""
    with_q = codebooks.crossJoin(F.broadcast(queries))
    sq = _subvector(F.col("q_qarr"), F.col("sub"), sub_dim)
    a = _fold_sum_long(F.zip_with(sq, sq, lambda x, y: x * y))
    cell = F.struct("cid", "sarr", "n", "ss")
    scored = with_q.select(
        "qid",
        "sub",
        "cid",
        _cell_num(sq, a, cell).alias("num"),
        (_dec(F.col("n")) * _dec(F.col("n"))).alias("nn"),
    )
    return scored.selectExpr(
        "qid", "sub", "cid", f"CAST(num * {ADC_SHIFT} div nn AS BIGINT) AS sd"
    )


def ivf_pq_topk_batch(
    embeddings: DataFrame,
    query_ids,
    coarse_k: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    k_sub: int = 16,
    iters: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = 50,
    index: IvfPqIndex | None = None,
) -> DataFrame:
    """IVF-ADC retrieval for a SET of queries against ONE fit:
    coarse-quantize the corpus (k-means, ``coarse_k`` cells), PQ-encode
    it, then answer each query by scanning only its ``n_probe`` nearest
    coarse cells and scoring their members as the sum of n_sub ADC table
    lookups. Returns (qid, vec_id, score, rank), ``topk`` rows per qid;
    one query is ``query_ids=[qid]``.

    ``index=`` is the SERVING path: pass a trained :class:`IvfPqIndex`
    (:func:`ivf_pq_fit_index` / :func:`read_ivf_pq_index`) and the call
    skips both fits — per-query work is the coarse probe against
    ~coarse_k centroid rows, the n_sub x k_sub ADC table, the code scan
    of the probed cells, and the R-row exact re-rank. ALL fit parameters
    — ``coarse_k``/``n_sub``/``k_sub``/``iters`` — are IGNORED with
    ``index=`` (the index's own training pinned them; the ADC tables
    derive their (sub, cid) keys from the index's codebooks relation
    itself, and candidate scoring explodes the index's codes, so
    subspace structure travels entirely WITH the artifact — only the
    module-default sub_dim=8 slicing of the query vectors must match how
    the index was trained). Fits are deterministic, so served rows are
    bit-for-bit the inline form's.

    ``rerank=R`` (default 50; pass ``rerank=None`` for the diagnostic
    ADC-only form the q_ann_ivf_pq oracle pins) adds the accuracy stage:
    the ADC pass keeps its byte-cheap scan but returns a top-R shortlist
    per qid; only those rows' real vectors are read and ranked by the
    exact quantized integer L2 (the same distance the recall ground
    truth uses), ties to the lowest id. PQ quantization error then can
    only cost recall when a true neighbor misses the ENTIRE shortlist
    (or its coarse cell was not probed) — the measured decay of the
    pinned 16-codeword codebook (recall_bp 7333 -> 2666 as sf0.5 -> 2)
    is quantization misranking inside probed cells, exactly what the
    R-deep shortlist absorbs. ``score`` is the ADC sum without re-rank
    and the exact L2 with it; both are integers, so top-k and rank are
    hash-exact.

    At 100 TB the index is trained once and queried millions of times;
    per-query cost must be independent of the fit. Here the coarse
    probe, the ADC tables, and the shortlist all key on ``qid``:

    - probe: the k coarse cells score against ALL queries in one
      broadcast cross product (k x q rows), per-qid exact count-ahead
      ranking (``kmeans.ivf_probe_cells_batch``, shared with
      ``ivf_kmeans_topk``);
    - ADC: (qid, sub, cid, sd) — q x n_sub x k_sub rows, broadcast to
      the candidate join, so the corpus-side scan reads CODES only,
      never candidate vectors, once for every query simultaneously;
    - candidates: assigned x probe on cid fans each corpus code row
      out to only the queries probing its cell; the single corpus-wide
      exchange is the (qid, vec_id) score aggregation;
    - rerank: per-qid shortlist via one window over the scored
      relation, exact integer L2 against only the shortlisted vectors'
      real embeddings.

    The DuckDB oracles replay the whole pipeline (queries/clustering.py
    q_ann_ivf_pq, q_ann_pq_rerank, q_ann_pq_batch).

    A query id absent from the corpus contributes no query vector and
    therefore NO output rows — callers wanting a hard failure should
    validate ids upstream; checking here would cost an action at plan
    time."""
    from oic_options_chains_spark.operators.kmeans import (
        ivf_probe_cells_batch,
    )

    qids = sorted(int(q) for q in query_ids)
    qv = quantize(embeddings, id_col, vec_col)
    if index is not None:
        _check_index(index)
        assigned, centroids = index.assigned, index.centroids
        coded, codebooks = index.codes, index.codebooks
    else:
        (assigned, centroids), (coded, codebooks) = _fit_both(
            embeddings, qv, coarse_k, n_sub, k_sub, iters, id_col, vec_col
        )
    queries = qv.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("qarr").alias("q_qarr")
    )
    probe = ivf_probe_cells_batch(centroids, queries, n_probe)
    adc = adc_table_batch(codebooks, queries)

    cand = (
        assigned.join(F.broadcast(probe), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .join(coded.select("vec_id", "codes"), "vec_id")
    )
    cand_long = cand.select(
        "qid", "vec_id", F.posexplode("codes").alias("sub", "cid")
    )
    scored = (
        cand_long.join(F.broadcast(adc), ["qid", "sub", "cid"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("sd").cast("bigint").alias("score"))
    )
    per_q = Window.partitionBy("qid").orderBy("score", "vec_id")
    if rerank is not None:
        shortlist = (
            scored.withColumn("__rk", F.row_number().over(per_q))
            .filter(F.col("__rk") <= max(rerank, topk))
            .select("qid", "vec_id")
        )
        exact = (
            shortlist.join(qv, "vec_id")
            .join(F.broadcast(queries), "qid")
            .select(
                "qid",
                "vec_id",
                F.aggregate(
                    F.zip_with(
                        F.col("qarr"),
                        F.col("q_qarr"),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("score"),
            )
        )
        scored = exact
    return (
        scored.withColumn(
            "rank", F.row_number().over(per_q).cast("int")
        )
        .filter(F.col("rank") <= topk)
        .select("qid", "vec_id", "score", "rank")
    )
