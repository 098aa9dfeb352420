"""Distributed Lloyd k-means over an embedding column, plus the IVF
coarse-quantizer retrieval built on it.

The reference engine has no clustering operator; this extends the
training-data surface (SURVEY.md extensions): k-means is the standard
coarse quantizer for IVF approximate-nearest-neighbor (FAISS-style) and
the standard domain-discovery step over document embeddings.

Cross-engine exactness design (the whole point of this layout):

- Embeddings are quantized once: ``q = floor(x * 4096)`` per element.
  4096 is a power of two, so the multiply is exact in IEEE double and
  the floor is engine-independent.
- All cross-row state is INTEGER: centroids are kept as per-dimension
  quantized sums ``sarr`` plus a member count ``n`` (the true centroid
  is the rational sarr/n, never materialized as a float). Integer sums
  are order-independent, so the result cannot drift with partitioning,
  speculative re-execution, or AQE re-planning — and matches a DuckDB
  oracle bit-for-bit.
- Distance uses the expansion  ||x - s/n||^2 = a - 2*b/n + ss/n^2  with
  a = sum(q^2), b = sum(q*s), ss = sum(s^2) all integers, evaluated in
  ONE fixed-shape double expression (see ``_dist``). IEEE +,-,*,/ with
  identical operand order gives identical doubles on every engine, so
  argmin assignments agree everywhere. Ties break to the lowest cid.

Shuffle budget per Lloyd iteration (the 100 TB shape):

- Assignment is row-local, zero shuffle: the k centroids reach every
  task (collected and shipped with the fit's Arrow kernel, or broadcast
  as one packed row for the ``assign_clusters`` fold) and the argmin
  runs per row.
- The update is one ``posexplode`` + ``groupBy(cid, pos)`` — n*dim rows
  partially aggregated map-side down to k*dim per task, so the exchange
  carries ~k*dim*tasks rows, not data-sized.

``ss = sum_pos(s_p^2)`` is computed in decimal(38,0): a single squared
per-dimension sum s_p^2 passes int64 once a cluster's quantized sum
exceeds ~3e9 (≈ 750k members at |x| <= 1 and QUANT=4096), and DuckDB's
SUM(BIGINT) widens to HUGEINT anyway — decimal keeps the Spark side
exact and order-independent at any cluster size, matching the oracle.
It is cast to double only inside ``_dist`` (same double either way) and
consumed exactly by the decimal probe ranking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 4096  # power of two: float * QUANT is exact in IEEE double


def quantize(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, qarr) with qarr[i] = floor(embedding[i] * 4096) as bigint."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: F.floor(x.cast("double") * QUANT)).alias("qarr"),
    )


def _fold_sum_long(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _dist(a: Column, b: Column, n: Column, ss: Column) -> Column:
    """||x - s/n||^2 from integer moments. KEEP THE SHAPE IN SYNC with the
    oracle SQL in queries/clustering.py: a - 2.0*b/n + ss/(n*n), all
    operands cast to double first, left-to-right evaluation."""
    nd = n.cast("double")
    return a.cast("double") - F.lit(2.0) * b.cast("double") / nd + ss.cast("double") / (nd * nd)


def _dec(c: Column) -> Column:
    return c.cast("decimal(38,0)")


def _centroid_state(assigned: DataFrame) -> DataFrame:
    """(cid, sarr, n, ss) from (vec_id, qarr, cid) member rows.

    One narrow exchange: posexplode to (cid, pos, q), groupBy(cid, pos)
    with map-side partial sums, then re-assemble per-cid arrays.

    The member count rides the SAME exploded aggregation (optimization
    r15): every member contributes one row per dimension, so the
    per-(cid, pos) row count IS the member count n (identical at every
    pos; max picks it deterministically). The old separate
    ``assigned.groupBy(cid).count()`` + join referenced the (often
    un-materialized) assignment subtree a second time and cost one
    more exchange plus a join per fit iteration — ~0.5 s of fixed
    stage overhead per centroid state at bench scale. Precondition
    (unchanged in practice, now load-bearing for n): member vectors
    are non-null and fixed-dim — the schema contract every fit caller
    already relies on for the sums to mean anything."""
    long = assigned.select("cid", F.posexplode("qarr").alias("pos", "q"))
    sums = long.groupBy("cid", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("__n")
    )
    # ss in decimal(38,0): s^2 passes int64 for clusters past ~750k
    # members, and the DuckDB oracle's SUM(BIGINT) widens to HUGEINT —
    # decimal keeps this side exact at any cluster size
    return sums.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda e: e["s"]
        ).alias("sarr"),
        F.sum(_dec(F.col("s")) * _dec(F.col("s"))).alias("ss"),
        F.max("__n").alias("n"),
    )


def _assign_clusters_vectorized(qv: DataFrame, centroids: DataFrame, k_bound: int) -> DataFrame:
    """The fit's assignment kernel: exact integer moments in numpy.

    Bit-identical to the fold in :func:`assign_clusters`:

    - b = q . s is an int64 matmul — exact, same wrap semantics as the
      JVM bigint fold in its legal range.
    - d replays ``_dist``'s EXACT double expression shape left-to-right:
      ``(a - (2.0 * b) / n) + ss / (n * n)`` with every operand
      correctly-rounded to float64 first (numpy float64 ops are the same
      IEEE primitives the JVM uses, so the doubles match bit-for-bit).
    - the centroid rows are sorted by cid and ``np.argmin`` takes the
      FIRST minimum — the same lowest-cid tie-break as the fold's
      ``array_min`` over cid-ascending (d, cid) structs.

    The centroid relation is k rows by construction — the driver-side
    collect is bounds-guarded at ``k_bound + 1`` and ships to executors
    as a closure (the same broadcast the fold's packed-array crossJoin
    performs). Arrow batches stream through one ``mapInPandas`` kernel:
    no shuffle, no per-row Python.
    """
    from pyspark.sql.types import StructField, StructType

    rows = centroids.select("cid", "sarr", "n", "ss").limit(k_bound + 1).collect()
    # a real raise, not assert: this guards an oversized driver collect
    # and a silently-truncated centroid set, and must survive python -O
    if len(rows) > k_bound:
        raise ValueError(
            f"centroid relation holds >{k_bound} rows; pass the true k as k_bound"
        )
    rows.sort(key=lambda r: r["cid"])
    import numpy as np

    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    sarr = np.array([r["sarr"] for r in rows], dtype=np.int64)  # k x d
    n = np.array([r["n"] for r in rows], dtype=np.float64)
    # decimal(38,0) -> float64 is correctly rounded on both engines
    ss = np.array([float(r["ss"]) for r in rows], dtype=np.float64)
    n_sq = n * n

    schema = StructType(
        [
            qv.schema["vec_id"],
            qv.schema["qarr"],
            StructField("cid", qv.schema["vec_id"].dataType),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                # output need not be 1:1 with batches; an empty frame
                # would carry no dtypes for the Arrow cast
                continue
            q = np.array(pdf["qarr"].tolist(), dtype=np.int64)  # b x d
            a = (q * q).sum(axis=1).astype(np.float64)
            b = (q @ sarr.T).astype(np.float64)
            d = (a[:, None] - (2.0 * b) / n[None, :]) + ss[None, :] / n_sq[None, :]
            best = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "qarr": pdf["qarr"], "cid": cids[best]}
            )

    return qv.mapInPandas(kernel, schema)


def assign_clusters(qv: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, qarr, cid): argmin-distance assignment as a pure projection.

    The k centroids are collapsed to ONE row holding a cid-sorted array
    of (cid, sarr, n, ss) structs, broadcast, and folded per input row —
    no shuffle, no window. Strict ``<`` over the cid-ascending array
    breaks distance ties toward the lowest cid (mirrors the oracle's
    ``ORDER BY d, cid``).

    The fold is interpreted (higher-order functions never enter
    codegen): O(n*k*d) interpreted ops, but no driver collect — the
    packed centroid row resolves lazily as a broadcast. ``kmeans_fit``
    uses the bit-identical :func:`_assign_clusters_vectorized` kernel.
    """
    packed = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cid", "sarr", "n", "ss"))).alias("cents")
    )
    a = _fold_sum_long(F.zip_with("qarr", "qarr", lambda x, y: x * y))
    with_a = qv.withColumn("a", a).crossJoin(F.broadcast(packed))

    def scored(c: Column) -> Column:
        b = _fold_sum_long(F.zip_with(F.col("qarr"), c["sarr"], lambda x, y: x * y))
        d = _dist(F.col("a"), b, c["n"], c["ss"])
        return F.struct(d.alias("d"), c["cid"].alias("cid"))

    # transform + array_min computes each centroid distance ONCE; a
    # fold with when/otherwise branches evaluates it twice per step
    # (condition + kept value) — measured ~2x on this interpreted-HOF
    # hot loop. Struct ordering (d, then cid) IS the tie-break.
    best = F.array_min(F.transform(F.col("cents"), scored))
    return with_a.select("vec_id", "qarr", best["cid"].alias("cid"))


def assign_cells(qv: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cid): assignment-only entry for direct passes that never
    read ``qarr`` back (fit on one slice, assign the corpus once).
    Runs the :func:`assign_clusters` fold: one lazy plan, no driver
    collect, O(n*k*d) interpreted ops."""
    return assign_clusters(qv, centroids).select("vec_id", "cid")


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations; return (assignments, centroids).

    assignments: (vec_id, qarr, cid); centroids: (cid, sarr, n, ss).
    Init is deterministic: the k rows with the lowest ids ACTUALLY
    PRESENT seed singleton clusters (cid = seed vec_id) — a sort-limit
    (TakeOrderedAndProject: per-partition top-k, k-sized merge), so the
    seed count is exactly min(k, n_rows) on any id space, dense or
    sparse. A cluster that loses all members drops out (standard Lloyd
    degeneracy — inner joins on both engines agree).

    Each iteration assigns through :func:`_assign_clusters_vectorized`
    (one k-row driver collect, then one matmul per Arrow batch) and
    updates the k-row centroid state with one narrow exchange; the
    final assignment is materialized once.
    """
    if iters < 1:
        raise ValueError(f"kmeans_fit requires iters >= 1, got {iters}")
    qv = quantize(embeddings, id_col, vec_col)
    seeds = qv.orderBy("vec_id").limit(k)
    # each centroid state is k rows but is referenced by every later
    # iteration (and by both consumers of the fit) — cache it so the
    # lineage is evaluated once, not once per reference; the footprint
    # is k * dim longs regardless of corpus size
    centroids = _centroid_state(
        seeds.select("vec_id", "qarr", F.col("vec_id").alias("cid"))
    ).cache()
    assigned = None
    for it in range(iters):
        assigned = _assign_clusters_vectorized(qv, centroids, k_bound=k)
        if it == iters - 1:
            # materialize the final assignment once: the last centroid
            # state and every consumer of ``assigned`` read these rows
            # instead of re-running the assignment pass. On a real
            # cluster prefer a reliable-storage checkpoint for
            # long-lived consumers.
            assigned = assigned.localCheckpoint(eager=True)
        centroids = _centroid_state(assigned).cache()
    return assigned, centroids


def ivf_probe_cells_batch(
    centroids: DataFrame, queries: DataFrame, n_probe: int
) -> DataFrame:
    """The ``n_probe`` coarse cells nearest each query — shared by
    IVF-flat (``ivf_kmeans_topk``) and IVF-PQ
    (``operators/pq.ivf_pq_topk_batch``). ``queries`` is (qid, q_qarr);
    returns (qid, cid) with exactly ``n_probe`` rows per qid. A single
    query is a one-row relation.

    Ranking is EXACT-INTEGER, not double: the cell distance is the
    rational N/n^2 with N = a*n^2 - 2*b*n + ss (all integer moments),
    and cell i ranks ahead of cell j iff N_i*n_j^2 < N_j*n_i^2 — a
    decimal(38,0) cross-multiplication both engines compute identically,
    so a near-tie between cells can never flip the candidate set on a
    last-ulp difference. KEEP IN SYNC with the nq/probe CTEs in
    queries/clustering.py (DuckDB side uses HUGEINT).

    The k cells score against every query in ONE broadcast cross
    product (k x q rows — both tiny); each qid's cells then collapse
    into one row, and cell c probes iff fewer than n_probe cells rank
    strictly ahead of it (cid tie-break). The nested array filter is
    k^2 comparisons on k<=tens of cells, with no join back to the
    corpus."""
    a_q = _fold_sum_long(F.zip_with("q_qarr", "q_qarr", lambda x, y: x * y))
    scored_cells = centroids.crossJoin(
        F.broadcast(queries.withColumn("qa", a_q))
    )
    b = _fold_sum_long(
        F.zip_with(F.col("q_qarr"), F.col("sarr"), lambda x, y: x * y)
    )
    ncell = scored_cells.select(
        "qid",
        "cid",
        (
            _dec(F.col("qa")) * _dec(F.col("n")) * _dec(F.col("n"))
            - _dec(F.lit(2)) * _dec(b) * _dec(F.col("n"))
            + _dec(F.col("ss"))
        ).alias("num"),
        (_dec(F.col("n")) * _dec(F.col("n"))).alias("nn"),
    )

    def _ahead(o: Column, c: Column) -> Column:
        return (o["num"] * c["nn"] < c["num"] * o["nn"]) | (
            (o["num"] * c["nn"] == c["num"] * o["nn"]) & (o["cid"] < c["cid"])
        )

    packed = ncell.groupBy("qid").agg(
        F.collect_list(F.struct("cid", "num", "nn")).alias("cells")
    )
    return packed.select(
        "qid",
        F.explode(
            F.filter(
                "cells",
                lambda c: F.size(
                    F.filter("cells", lambda o: _ahead(o, c))
                ) < n_probe,
            )
        ).alias("cell"),
    ).select("qid", F.col("cell.cid").alias("cid"))


def ivf_kmeans_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 8,
    iters: int = 2,
    n_probe: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF retrieval with a k-means coarse quantizer: probe the query's
    ``n_probe`` nearest cells, exact-rank only their members.

    (vec_id, dist, rank): dist is the EXACT integer squared distance in
    quantized space — sum((qx-qy)^2) — so the output is hash-stable with
    no float in the final schema. At scale the win is the probe
    semi-join: only n_probe/k of the corpus is scanned for ranking, and
    both the probe list and the query vector are broadcast.
    """
    assigned, centroids = kmeans_fit(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)

    # the query row needs only its quantized vector — read it off the
    # scan, not off the full fit lineage
    qrow = (
        quantize(embeddings, id_col, vec_col)
        .filter(F.col("vec_id") == query_id)
        .select(F.lit(query_id).alias("qid"), F.col("qarr").alias("q_qarr"))
    )
    probe = ivf_probe_cells_batch(centroids, qrow, n_probe)

    cand = (
        assigned.join(F.broadcast(probe), "cid", "semi")
        .filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(qrow))
    )
    dist = _fold_sum_long(
        F.zip_with(F.col("qarr"), F.col("q_qarr"), lambda x, y: (x - y) * (x - y))
    )
    # sort-limit first (TakeOrderedAndProject: per-partition top-k then a
    # k-sized merge), THEN rank the k survivors — the only
    # single-partition stage touches topk rows, not the probed cells
    top = cand.select("vec_id", dist.alias("dist")).orderBy("dist", "vec_id").limit(topk)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy("dist", "vec_id")).cast("int")
    )


# widest per-cell sub-LSH prefix the hot-cell router will apply: 2^16
# sub-buckets inside ONE cell is already executor-grain; embeddings
# shorter than this many dims simply saturate at their own length
_HOT_SUB_MAX_BITS = 16


def _hot_cell_widths(assigned: DataFrame, cap: int) -> DataFrame:
    """(cid, __w): the cells holding more than ``cap`` members, each with
    the sub-LSH prefix width that splits it back to ~cap-row pair groups
    (ceil(log2(n/cap)), capped at ``_HOT_SUB_MAX_BITS``).

    This is the SemDeDup twin of the aHash hot-bucket relation
    (phash.pairs_from_band_table): tiny by construction — at most k rows
    survive the ``> cap`` filter — so it broadcasts, and the count
    aggregate is map-side combinable over the assignment relation.
    Callers materialize it (k-bounded collect) so the common no-hot-cell
    corpus skips the routing join entirely."""
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("__cn"))
        .filter(F.col("__cn") > cap)
        .select(
            "cid",
            F.least(
                F.lit(_HOT_SUB_MAX_BITS),
                F.greatest(
                    F.lit(1),
                    F.ceil(F.log2(F.col("__cn").cast("double") / F.lit(float(cap)))),
                ),
            )
            .cast("int")
            .alias("__w"),
        )
    )


def _sign_prefix(n_bits: int) -> Column:
    """'1'/'0' sign string of the leading ``n_bits`` quantized dims.

    ``F.get`` (0-based) instead of ``element_at``: past-the-end dims read
    NULL -> '0' rather than raising under ANSI, so a 16-wide hot-cell
    prefix is safe on embeddings shorter than 16 dims (it just saturates
    at the vector length)."""
    return F.concat(
        *[
            F.when(F.get(F.col("qarr"), i) > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(n_bits)
        ]
    )


def _resolved_hot_cells(assigned: DataFrame, cap: int, k: int) -> DataFrame | None:
    """Materialize :func:`_hot_cell_widths` into a literal k-bounded
    relation, or None when no cell crossed the cap — so the typical
    healthy corpus pays one tiny aggregate over the already-checkpointed
    assignment and ZERO extra operators in the pairing plan (measured
    ~0.4 s of per-query overhead at bench scale for the in-plan join
    form, all of it for nothing when the relation is empty)."""
    rows = _hot_cell_widths(assigned, cap).limit(k + 1).collect()
    if len(rows) > k:  # bounded-collect guard; must survive python -O
        raise ValueError("hot-cell relation exceeded the centroid count")
    if not rows:
        return None
    spark = assigned.sparkSession
    cid_type = assigned.schema["cid"].dataType.simpleString()
    return spark.createDataFrame(
        [(r["cid"], r["__w"]) for r in rows], f"cid {cid_type}, __w int"
    )


def _cell_pair_distances(
    assigned: DataFrame, sub_bits: int, hot_cells: DataFrame | None = None
) -> DataFrame:
    """(cid, vid_hi, vid_lo, d): exact integer distances of every
    within-cell (optionally sub-LSH-restricted) ordered pair — the
    pairing core shared by ``semantic_dedup`` (fixed eps) and
    ``semantic_dedup_auto_eps`` (quantile-derived eps). Salted on the
    cell key (see semantic_dedup docstring).

    ``sub_bits > 0`` restricts every cell's pairing to one global-width
    sign bucket (the pinned, oracle-replayable knob). ``hot_cells``
    (exclusive with sub_bits) routes ONLY the cells named in that
    (cid, __w) relation through a per-cell-width sign bucket — small
    cells keep the exact pairing, so the split cost and the recall trade
    are both confined to the cells that actually blew past the cap."""
    from oic_options_chains_spark.operators.skew import salted_join

    keys = ["cid"]
    if sub_bits > 0:
        assigned = assigned.withColumn("__sub", _sign_prefix(sub_bits))
        keys = ["cid", "__sub"]
    elif hot_cells is not None:
        assigned = (
            assigned.join(F.broadcast(hot_cells), "cid", "left")
            .withColumn(
                "__sub",
                F.when(F.col("__w").isNull(), F.lit("")).otherwise(
                    _sign_prefix(_HOT_SUB_MAX_BITS).substr(F.lit(1), F.col("__w"))
                ),
            )
            .drop("__w")
        )
        keys = ["cid", "__sub"]
    a = assigned.select(
        *keys,
        F.col("vec_id").alias("vid_hi"),
        F.col("qarr").alias("q_hi"),
    )
    b_side = assigned.select(
        *keys,
        F.col("vec_id").alias("vid_lo"),
        F.col("qarr").alias("q_lo"),
    )
    pairs = salted_join(a, b_side, keys, left_salt_from="vid_hi").filter(
        F.col("vid_lo") < F.col("vid_hi")
    )
    return _pair_l2_kernel(pairs.select("cid", "vid_hi", "vid_lo", "q_hi", "q_lo"))


def _pair_l2_kernel(pairs: DataFrame) -> DataFrame:
    """(cid, vid_hi, vid_lo, d) from (…, q_hi, q_lo) pair rows: the
    exact integer squared L2 as ONE numpy batch op per Arrow batch —
    the ``_hyperplane_keys_kernel`` pattern (optimization r15).

    The ``zip_with``+``aggregate`` fold this replaces is a
    CodegenFallback evaluated interpreted per element per PAIR — the
    dominant CPU term of the whole semdedup query (2.0 s of a 4.4 s
    noop at bench sf0.1 for 250k pairs x 64 dims; an unrolled
    codegen-builtin form was measured WORSE, 7.4 s, because the 256-op
    tree gets substituted into the eps filter and blows codegen
    limits). int64 subtract/square/sum in numpy is exact in range
    (diff <= 2*4096*|x|, dim * (2*4096)^2 << 2^63) — bit-identical to
    the fold, so oracle replay is unchanged. Only the five needed
    columns cross the Arrow boundary (guide §4: project before opaque
    ops)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            pairs.schema["cid"],
            pairs.schema["vid_hi"],
            pairs.schema["vid_lo"],
            StructField("d", LongType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # an empty frame would carry no dtypes
            qh = np.array(pdf["q_hi"].tolist(), dtype=np.int64)
            ql = np.array(pdf["q_lo"].tolist(), dtype=np.int64)
            diff = qh - ql
            yield pd.DataFrame(
                {
                    "cid": pdf["cid"],
                    "vid_hi": pdf["vid_hi"],
                    "vid_lo": pdf["vid_lo"],
                    "d": (diff * diff).sum(axis=1),
                }
            )

    return pairs.mapInPandas(kernel, schema)


def semantic_dedup(
    embeddings: DataFrame,
    eps: int,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_bits: int | None = None,
    hot_cell_cap: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with k-means,
    then drop any vector whose cluster holds a LOWER-id vector within
    squared quantized distance ``eps``. Returns the dropped rows only:
    (vec_id, cid, keeper, dist) with ``keeper`` the smallest such
    neighbor and ``dist`` the exact integer distance to it.

    This is the scale path for embedding-level near-dedup: the
    within-cluster self-join is the ONLY pairing ever formed, so work is
    sum(cluster_size^2), not corpus^2 — the clustering exists precisely
    to bound the candidate space (same role the LSH bands play for
    MinHash). At 100 TB: raise k until clusters bound memory; the join
    shuffles both sides once on cid.

    Every decision is integer: assignments are the shared exact-moment
    argmin (``assign_clusters``), the distance is sum((qa-qb)^2) over
    quantized vectors, eps-comparison and keeper-argmin are integer
    folds. Keeper rule "smallest qualifying id" (not transitive closure)
    keeps the operator one join + one aggregate; chained duplicates
    resolve over the keeper graph exactly like ``clusters.dedup_clusters``
    downstream if closure is needed.

    The pairing join is SALTED (``operators/skew.salted_join``): cid has
    only k distinct values, so an unsalted cid join caps reducer
    parallelism at k regardless of cluster size — exactly the
    hot-key-feeding-a-join case AQE cannot rewrite (the pair-forming
    fold is CPU-dense, not bytes-dense). Salting the hi side by row id
    splits each cell across n_salts reducers at the cost of replicating
    the lo side n_salts times; results are row-identical by the salting
    contract.

    ``sub_bits`` is the 100 TB knob the scale curve validated: with
    fixed k, cells grow linearly with the corpus and the within-cell
    pairing is O(n²/k) — superlinear. Raising k instead pushes the
    Lloyd fit superlinear (assignment is O(n·k·d); measured WORSE at
    10x data than fixed k). ``sub_bits > 0`` keeps the cheap fixed-k
    fit and splits each cell's pairing by a sign-LSH bucket of the
    leading ``sub_bits`` quantized dims: pair groups stay ~target-rows,
    cost O(n · E[bucket]). The trade is recall at sub-bucket
    boundaries — the same miss class as SemDeDup's own cell boundaries.

    DEFAULT (``sub_bits=None``) routes PER CELL, by ACTUAL cell size —
    the round-11 rework of the old expected-cell global width, mirroring
    the aHash hot-bucket split (phash.pairs_from_band_table): every cell
    at or under ``hot_cell_cap`` members (default
    ``similarity.DEFAULT_TARGET_BUCKET_ROWS``) pairs exactly; a cell
    above it pairs within a sign-LSH sub-bucket sized to its OWN
    overflow, ceil(log2(cell/cap)) leading-dim signs. Expected-cell
    sizing misses exactly the corpora that need the split most — a
    clumped/skewed corpus concentrates in few cells while n/k looks
    harmless — and a global width taxes every healthy cell with the
    recall trade only the hot ones require. Identical vectors share
    every sign prefix, so EXACT duplicates are never lost to routing;
    the boundary-miss class is the same one SemDeDup's own cell
    boundaries already carry. Small/gate-scale corpora cannot cross the
    cap, so the oracle-checked exact behavior is preserved bit-for-bit.
    Pin ``sub_bits=0`` for the pure verification form (no routing), or
    an explicit width for oracle determinism of the split itself
    (``q_semdedup_sub``); ``hot_cell_cap`` only applies to the default
    path.

    The assignment relation is materialized before pairing (inside
    ``kmeans_fit`` since optimization r15): both pair sides (and the
    hot-cell counts) read the materialized rows instead of re-running
    the O(n*k*d) assignment once per reference — at scaled k that
    recompute, not the pairing, was the measured superlinear term
    (SCALE_CURVE r10: scaled_k slope_last 1.16)."""
    routed = sub_bits is None
    if routed:
        sub_bits = 0
        if hot_cell_cap is None:
            from oic_options_chains_spark.operators.similarity import (
                DEFAULT_TARGET_BUCKET_ROWS,
            )

            hot_cell_cap = DEFAULT_TARGET_BUCKET_ROWS
    assigned, _ = kmeans_fit(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    hot_cells = _resolved_hot_cells(assigned, hot_cell_cap, k) if routed else None
    close = _cell_pair_distances(assigned, sub_bits, hot_cells).filter(
        F.col("d") <= eps
    )
    best = close.groupBy("vid_hi", "cid").agg(
        F.min("vid_lo").alias("keeper"),
        F.min_by("d", "vid_lo").alias("dist"),
    )
    return best.select(
        F.col("vid_hi").alias("vec_id"),
        "cid",
        F.col("keeper").cast("bigint").alias("keeper"),
        F.col("dist").cast("bigint").alias("dist"),
    )


def centroid_probe(
    embeddings: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid probe (the standard linear-probe-without-a-model
    eval for embedding quality): build one centroid per LABEL from the
    labeled vectors, re-assign every vector to its nearest label
    centroid with the shared exact-moment argmin, and emit the confusion
    matrix (label, predicted, n_vecs). A good embedding space reproduces
    its labels from centroids alone; off-diagonal mass localizes the
    confusable classes — the report a curation pipeline reads before
    trusting embeddings for semantic dedup or retrieval.

    Same machinery as the quantizer fit: centroids are
    ``_centroid_state`` over label groups (one map-side-combined
    (cid, pos) exchange), assignment is the broadcast-fold projection
    (zero shuffle), and the confusion aggregate is labels² rows. Every
    decision is the fixed-shape integer-moment distance, so the matrix
    is bit-identical on any engine/partitioning."""
    qv = quantize(embeddings, id_col, vec_col)
    labels = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).cast("int").alias("label")
    )
    members = qv.join(labels, "vec_id").select(
        "vec_id", "qarr", F.col("label").alias("cid")
    )
    cents = _centroid_state(members)
    assigned = assign_clusters(qv, cents)
    return (
        assigned.join(labels, "vec_id")
        .groupBy("label", F.col("cid").cast("int").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )


def semantic_dedup_auto_eps(
    embeddings: DataFrame,
    pct_bp: int = 100,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_bits: int | None = None,
    hot_cell_cap: int | None = None,
) -> DataFrame:
    """SemDeDup with the eps threshold DERIVED from the corpus itself:
    eps = the exact ``pct_bp``-basis-point lower order statistic of the
    within-cell pair-distance distribution (position max(1,
    (n_pairs * pct_bp) div 10000) under the total order (d, hi, lo)).

    Why: a fixed eps is a per-corpus magic number — the right threshold
    at 100 TB moves with the embedding model, the quantization, and the
    corpus's self-similarity. "Drop the closest 1% of pairs" is the
    operational contract curation actually wants, and the order
    statistic makes it exact and engine-replayable (no float quantile
    interpolation).

    Scale: the pair relation is the same bounded within-cell pairing as
    ``semantic_dedup`` (never corpus²); the order statistic uses the
    two-phase ``global_rank`` (keyed on the distance value domain — no
    single-reducer global sort), and the 1-row eps broadcasts back.

    Returns the dropped rows (vec_id, cid, keeper, dist, eps) — eps
    included so downstream audit sees the threshold that was applied.

    Default routing matches ``semantic_dedup``: ``sub_bits=None`` pairs
    exactly except inside cells past ``hot_cell_cap``, which take a
    per-cell sign-LSH split; on such a corpus the order statistic is
    taken over the ROUTED pair distribution (deterministic; the excluded
    pairs are sub-bucket-boundary pairs — the same miss class the cell
    boundaries already carry)."""
    from oic_options_chains_spark.operators.sampling import global_rank

    routed = sub_bits is None
    if routed:
        sub_bits = 0
        if hot_cell_cap is None:
            from oic_options_chains_spark.operators.similarity import (
                DEFAULT_TARGET_BUCKET_ROWS,
            )

            hot_cell_cap = DEFAULT_TARGET_BUCKET_ROWS
    assigned, _ = kmeans_fit(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    hot_cells = _resolved_hot_cells(assigned, hot_cell_cap, k) if routed else None
    dists = _cell_pair_distances(assigned, sub_bits, hot_cells).localCheckpoint(
        eager=True
    )
    ranked = global_rank(dists, ["d", "vid_hi", "vid_lo"], out="__rank")
    n = dists.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    eps_row = (
        ranked.crossJoin(F.broadcast(n))
        .filter(
            F.col("__rank")
            == F.greatest(F.lit(1), F.expr(f"__n * {pct_bp} div 10000"))
        )
        .select(F.col("d").alias("eps"))
    )
    close = dists.crossJoin(F.broadcast(eps_row)).filter(F.col("d") <= F.col("eps"))
    best = close.groupBy("vid_hi", "cid", "eps").agg(
        F.min("vid_lo").alias("keeper"),
        F.min_by("d", "vid_lo").alias("dist"),
    )
    return best.select(
        F.col("vid_hi").alias("vec_id"),
        "cid",
        F.col("keeper").cast("bigint").alias("keeper"),
        F.col("dist").cast("bigint").alias("dist"),
        F.col("eps").cast("bigint").alias("eps"),
    )
