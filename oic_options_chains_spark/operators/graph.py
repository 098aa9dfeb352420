"""Mutual-kNN graph construction and degree-oriented triangle counting.

Curation reading: the mutual-kNN graph over document embeddings is the
standard substrate for semantic clustering diagnostics — a node's
triangle count (the numerator of its local clustering coefficient) says
whether its neighborhood is a coherent topic clump or an accidental hub,
which is exactly the signal SemDeDup-style pruning and mixture balancing
want before trusting a cluster.

Exactness: distances are integer L2 over the same floor(x·4096)
quantization the k-means family uses (operators/kmeans.QUANT) — every
ranking decision is (bigint dist, id) and replays bit-for-bit on any
engine.

Scale design:
- ``knn_from_candidates`` ranks ANY candidate pair relation — at scale
  the candidates come from the existing bucketed generators (IVF cells,
  sign-LSH buckets, ``operators/similarity.py``), so the graph build is
  bucket-bounded, never all-pairs. ``brute_knn_edges`` is the exact
  small-relation / verification path.
- Mutual filter is one self-equi-join on the reversed pair; a kNN
  relation has ≤ n·k rows, so the graph is sparse by construction
  (|E| ≤ n·k/2 after mutualization).
- Triangle counting uses the classic degree-ordered node iterator
  [Schank & Wagner]: orient each edge from its (degree, id)-smaller
  endpoint, pair out-neighbors, and close with one more equi-join. Out-
  degrees under this orientation are O(sqrt(|E|)) regardless of hubs, so
  the wedge relation — the only intermediate bigger than |E| — is
  bounded even on skewed graphs. Three shuffles total (degree agg, wedge
  join, closing join); counts per triangle exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.kmeans import QUANT, quantize
from oic_options_chains_spark.operators.similarity import _resolve_bits


def _l2_int(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def brute_knn_edges(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src, dst, dist): each node's k nearest others by exact quantized
    L2 (ties by dst id). All-pairs — the verification / small-relation
    path; at scale generate candidates from IVF/LSH buckets and rank
    them with ``knn_from_candidates`` instead."""
    q = quantize(embeddings, id_col, vec_col)
    a = q.select(F.col("vec_id").alias("src"), F.col("qarr").alias("__qa"))
    b = q.select(F.col("vec_id").alias("dst"), F.col("qarr").alias("__qb"))
    pairs = a.join(b, F.col("src") != F.col("dst")).select(
        "src", "dst", _l2_int(F.col("__qa"), F.col("__qb")).alias("dist")
    )
    return knn_from_candidates(pairs, k)


def _bucket_knn_kernel(q: DataFrame, k: int) -> DataFrame:
    """(src, dst, dist): each node's k nearest same-bucket neighbors,
    computed per sign bucket with ONE int64 Gram matmul instead of the
    pair join + interpreted fold + mirror checkpoint + ranking window
    (optimization r16, guide §4/§2.4).

    ``q`` is (vec_id, qarr, __b). The whole bucket arrives as one
    pandas group; dist(i,j) = s_i + s_j - 2*(q_i . q_j) with
    s = sum(q^2) — every moment an exact int64 (|q| <= 4096, d = 64,
    so q_i . q_j <= 2^30 and dist <= 2^33), bit-identical to the
    ``_l2_int`` fold the verification path keeps. Per row, the k
    nearest by (dist, dst) via lexsort — the same deterministic
    tie-break as ``knn_from_candidates``'s row_number window. A pair
    join materializes O(sum c_b^2) rows THROUGH the plan (the measured
    CPU term of the whole kNN-graph family); here only the n input
    rows and the n*k output rows cross the Arrow boundary, and the c^2
    term lives inside BLAS. The Gram matrix is computed in row blocks
    bounded to ~32 MB so a degenerate giant bucket cannot OOM a task
    (the same O(c^2) compute the pair join would also pay; the
    ``bits_for`` width derivation keeps real buckets ~target rows)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("src", q.schema["vec_id"].dataType),
            StructField("dst", q.schema["vec_id"].dataType),
            StructField("dist", LongType()),
        ]
    )
    sentinel = np.iinfo(np.int64).max  # > any real dist (<= 2^33)

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n <= 1:
            return pd.DataFrame(
                {
                    "src": pd.Series([], dtype="int64"),
                    "dst": pd.Series([], dtype="int64"),
                    "dist": pd.Series([], dtype="int64"),
                }
            )
        ids = pdf["vec_id"].to_numpy()
        qm = np.array(pdf["qarr"].tolist(), dtype=np.int64)
        s = (qm * qm).sum(axis=1)
        m = min(k, n - 1)
        srcs = np.empty(n * m, dtype=np.int64)
        dsts = np.empty(n * m, dtype=np.int64)
        dists = np.empty(n * m, dtype=np.int64)
        block = max(1, (4 << 20) // n)  # ~32 MB of int64 per Gram block
        pos = 0
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            d = s[lo:hi, None] + s[None, :] - 2 * (qm[lo:hi] @ qm.T)
            for i in range(hi - lo):
                row = d[i]
                row[lo + i] = sentinel  # exclude self (ids are unique)
                order = np.lexsort((ids, row))[:m]
                srcs[pos : pos + m] = ids[lo + i]
                dsts[pos : pos + m] = ids[order]
                dists[pos : pos + m] = row[order]
                pos += m
        return pd.DataFrame({"src": srcs, "dst": dsts, "dist": dists})

    return q.groupBy("__b").applyInPandas(kernel, schema)


def bucketed_knn_edges(
    embeddings: DataFrame,
    k: int,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_candidates: bool = False,
) -> DataFrame:
    """(src, dst, dist): k nearest SAME-BUCKET neighbors under the
    sign-LSH coarse partition (``similarity.sign_bucket`` semantics:
    sign bits of the first ``bits`` raw dims — float > 0 is exact on any
    engine). The scale path: candidate pairs are bucket-bounded
    (≈ n·E[bucket] instead of n²), the same within-cell pairing
    SemDeDup uses; distances and ranking are the exact quantized
    integers of ``brute_knn_edges``. By DEFAULT ``bits`` is derived
    from the corpus size (``similarity.bits_for`` via the cached
    ``_resolve_bits`` count) so buckets stay ~target-rows as the corpus
    grows — a fixed width is O((n/2^b)^2) per bucket and goes
    superlinear at 10x data (measured: slope 1.04 fixed vs 0.58
    scaled, SCALE_CURVE round 6). Pin ``bits`` explicitly only for
    oracle determinism on derived inputs.

    ``broadcast_candidates`` is retained for API stability but no
    longer changes the plan (optimization r16): the candidate pairing,
    distance and ranking all happen inside the per-bucket Gram kernel
    (``_bucket_knn_kernel``), so there is no pair join left to
    broadcast or repartition. The r15 shape (bucket equi-join +
    interpreted ``_l2_int`` fold on the src < dst half + mirror
    checkpoint + ranking window) paid the O(sum c_b^2) pair relation
    through the plan plus one interpreted 64-dim fold per pair — the
    measured CPU term of q_anf / q_kcore / q_knn_triangles. The kernel
    moves the c^2 term into one int64 matmul per bucket and ships only
    n input rows and n*k output rows across the Arrow boundary
    (bit-identical results; a pair-rows-through-Arrow variant was
    measured WORSE — see OPTIMIZATION_r16.md)."""
    bits = _resolve_bits(embeddings, bits)
    sign = F.concat(
        *[
            F.when(F.element_at(F.col(vec_col), i + 1) > 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(bits)
        ]
    )
    q = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            vec_col, lambda x: F.floor(x.cast("double") * QUANT)
        ).alias("qarr"),
        sign.alias("__b"),
    )
    return _bucket_knn_kernel(q, k)


def knn_from_candidates(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k per src from a (src, dst, dist) candidate relation —
    deterministic rank by (dist, dst)."""
    w = Window.partitionBy("src").orderBy("dist", "dst")
    return (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("src", "dst", "dist")
    )


def mutual_edges(knn: DataFrame) -> DataFrame:
    """(a, b) with a < b: pairs where BOTH directions made the other's
    top-k — the mutual-kNN graph, each undirected edge once."""
    # the kNN relation is referenced twice (forward + reversed); without
    # truncation the candidate join + ranking window lineage would be
    # planned and executed once PER REFERENCE — and triangle_counts
    # multiplies references further. localCheckpoint materializes the
    # ≤ n·k row relation once (the connected_components precedent; on a
    # real cluster use checkpoint against reliable storage).
    knn = knn.localCheckpoint(eager=True)
    rev = knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        knn.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, degree, n_triangles) for every node of the undirected
    (a, b) edge relation (a < b, each edge once). Degree-ordered
    orientation bounds out-degrees at O(sqrt(|E|)); each triangle is
    found exactly once and credited to all three corners."""
    # edges feed five subtrees (two degree ends, both wedge sides, the
    # closing probe); truncate the lineage so the upstream graph build
    # runs once, not once per reference (|E| rows, bounded)
    edges = edges.localCheckpoint(eager=True)
    ends = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))

    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    withdeg = edges.join(da, "a").join(db, "b")
    # orient from the (degree, id)-smaller endpoint
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    adj = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("__dd"),
    )
    e1 = adj.select("src", F.col("dst").alias("v"), F.col("__dd").alias("__dv"))
    e2 = adj.select("src", F.col("dst").alias("w"), F.col("__dd").alias("__dw"))
    # unordered out-neighbor pairs, ordered by the SAME (degree, id) key
    # the orientation uses, so the closing edge is oriented v -> w
    wedges = e1.join(e2, "src").filter(
        (F.col("__dv") < F.col("__dw"))
        | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
    )
    closing = adj.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"], "left_semi").select("src", "v", "w")

    corners = (
        tris.select(F.col("src").alias("node"))
        .union(tris.select(F.col("v").alias("node")))
        .union(tris.select(F.col("w").alias("node")))
    )
    tcount = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    return deg.join(tcount, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0).cast("bigint")).alias(
            "n_triangles"
        ),
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Frontier label propagation over an undirected (a, b) edge
    relation: seeds keep their labels; each round, every still-unlabeled
    node adjacent to labeled nodes takes the MAJORITY label among its
    labeled neighbors (ties to the lowest label); once assigned, a label
    is frozen. Returns (node, label, round) with round = 0 for seeds —
    the semi-supervised pseudo-labeling pass (label denoising, cheap
    expansion of a small labeled set over a mutual-kNN graph) in its
    deterministic, oracle-replayable form: monotone frontier growth +
    integer vote counts + fixed tie-break, so the assignment is
    independent of partitioning and engine.

    Scale: per round, one join of the edge relation against the (tiny,
    grows-to-n) label relation, one anti join to keep the frontier, one
    (node, label) vote aggregate, one per-node argmax window. The label
    state is node-sized, never edge-sized; ``rounds`` is typically 1-3
    (the mutual-kNN frontier saturates fast)."""
    both = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    labels = seeds.select(
        F.col("node"), F.col("label").cast("int").alias("label"), F.lit(0).alias("round")
    ).localCheckpoint(eager=True)
    for i in range(1, rounds + 1):
        votes = (
            both.join(labels.select(F.col("node").alias("src"), "label"), "src")
            .join(labels.select(F.col("node").alias("dst")), "dst", "anti")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("__n").desc(), F.col("label").asc()
        )
        picked = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label", F.lit(i).alias("round"))
        )
        # the grown label relation feeds the next round twice (vote join
        # + frontier anti join) — truncate like mutual_edges does
        labels = labels.unionByName(picked).localCheckpoint(eager=True)
    return labels.select(
        "node", "label", F.col("round").cast("int").alias("round")
    )


def anf_ball_sizes(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 2,
    b: int = 4,
    id_col: str = "node",
) -> DataFrame:
    """Approximate Neighborhood Function via HyperBall [Boldi & Vigna
    2013]: per node, the estimated number of DISTINCT nodes within r
    hops, for r = 1..rounds — the reach/centrality diagnostic that
    tells a curation pipeline whether a near-duplicate neighborhood is
    a bounded clump or a percolating template farm, without ever
    materializing the ball sets.

    Each node starts with the HLL register of its own id (the same
    engine-portable md5 register math as operators/sketches.py, m=2^b
    registers); one round is a register-wise MAX over {self} union
    in-neighbors — the HLL union, exact under the sketch. A ball of any
    size is always m bounded register rows, so a round costs one
    edges-sized join plus one (node, reg)-keyed aggregation no matter
    how fast balls grow — the property that makes radius-r reach
    computable at 100 TB where exact BFS frontiers explode
    combinatorially.

    Estimates use the scaled-integer harmonic sum and the precomputed
    small-range table (hll_numerator / hll_linear_table literals), so
    no double exists anywhere and any engine replays the same integers.

    Layout note (optimization r16, examined and kept AS IS): a packed
    bit-per-rho register layout — one row per node, m bigint masks,
    register-wise MAX as ``bit_or``, per-round estimate as a pure
    projection — was built, proven bit-identical, and A/B'd WORSE at
    bench sf0.1 (isolated suffix 0.64 s rows vs 0.82 s bitmap,
    min-of-4 x2) and a WASH at sf0.5 (1.34 s both): the sparse
    (node, reg, rho) relation at small radii carries ~E[regs] <= m
    rows per node and the wide 16-column bit_or/IF codegen costs more
    than the row-count it saves. Re-try only past the radius/scale
    where ball register sets saturate (rows form stops being sparse).

    Returns (node, r, n_zero_regs, estimate) for every input node and
    radius; an isolated node estimates its singleton ball at every r.
    """
    from oic_options_chains_spark.operators.sketches import (
        hll_linear_table,
        hll_numerator,
    )

    if b % 4 != 0 or not (4 <= b <= 8):
        raise ValueError("b must be 4 or 8")
    hx = b // 4
    m = 1 << b
    num = hll_numerator(m)
    table = ", ".join(str(x) for x in hll_linear_table(m))

    base = nodes.select(F.col(id_col).alias("node")).distinct()
    regs = base.selectExpr(
        "node",
        f"CAST(conv(substring(md5(CAST(node AS STRING)), 1, {hx}), 16, 10)"
        " AS INT) AS reg",
        f"CAST(conv(substring(md5(CAST(node AS STRING)), {hx + 1}, 13),"
        " 16, 10) AS BIGINT) AS __v",
    ).selectExpr(
        "node",
        "reg",
        "CAST(IF(__v = 0, 53, 53 - length(bin(__v))) AS INT) AS rho",
    )
    # materialized once: the undirected union and every round's join
    # reference the edge list repeatedly; without truncation each
    # reference re-runs the upstream kNN build
    fwd = edges.select("src", "dst").localCheckpoint(eager=True)
    und = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def estimates(cur: DataFrame, r: int) -> DataFrame:
        s = cur.groupBy("node").agg(
            F.count(F.lit(1)).alias("__n"),
            F.expr(
                "SUM(shiftleft(CAST(1 AS BIGINT), 53 - rho))"
            ).alias("__t"),
        )
        return s.selectExpr(
            "node",
            f"CAST({r} AS INT) AS r",
            f"CAST({m} - __n AS BIGINT) AS n_zero_regs",
            f"CAST({num} AS DECIMAL(38,0)) DIV "
            f"CAST(__t + shiftleft(CAST(1 AS BIGINT), 53) * ({m} - __n)"
            " AS DECIMAL(38,0)) AS raw_est",
        ).selectExpr(
            "node",
            "r",
            "n_zero_regs",
            f"CAST(IF(raw_est <= {(5 * m) // 2} AND n_zero_regs > 0, "
            f"element_at(array({table}), CAST(n_zero_regs AS INT)), "
            "raw_est) AS BIGINT) AS estimate",
        )

    out = None
    cur = regs
    for r in range(1, rounds + 1):
        nbr = und.join(cur, und["dst"] == cur["node"]).select(
            und["src"].alias("node"), "reg", "rho"
        )
        cur = (
            nbr.unionByName(cur.select("node", "reg", "rho"))
            .groupBy("node", "reg")
            .agg(F.max("rho").alias("rho"))
        )
        est = estimates(cur, r)
        out = est if out is None else out.unionByName(est)
    return out


def kcore_membership(
    nodes: DataFrame,
    edges: DataFrame,
    k: int = 3,
    rounds: int = 8,
    id_col: str = "node",
) -> DataFrame:
    """k-core membership by iterative peeling [Matula & Beck 1983]:
    repeatedly remove nodes with fewer than ``k`` surviving neighbors;
    what remains after convergence is the k-core — on a near-duplicate
    or kNN graph, the dense template-farm/spam-cluster backbone that
    degree or triangle counts alone understate.

    Determinism contract: the output is defined as the survivor set
    after exactly ``rounds`` peels (each peel is a pure function of the
    edge set, so any engine replays it bit-identically); peeling
    converges when a round removes nothing, and on bounded-degree
    graphs (mutual-kNN has degree <= k_nn) that happens in a handful of
    rounds — the paired oracle unrolls the same fixed count.

    Scale shape per round: one degree aggregation + two semi-joins on
    the surviving edge set, which only shrinks; labels are
    localCheckpoint-ed so the loop's lineage stays flat. Returns
    (node, in_core, core_degree) for EVERY input node — never-edged
    nodes report (0, 0).

    Bounded driver finish (optimization r15, the connected_components
    precedent): each distributed peel costs a fixed stage-scheduling
    latency regardless of edge count, and the per-round early-exit
    count already gives the exact size of the checkpointed edge set —
    at or under ``LOCAL_FINISH_MAX_EDGES`` the remaining rounds run as
    a driver loop over the collected (bounded) edges, producing the
    identical survivor set and degrees: each peel is the same pure
    function of the edge set (deg >= k on the undirected-doubled rows,
    keep both endpoints), with the same monotone early exit. At scale
    the distributed peels shrink the graph into this regime first; the
    bound replaces only the tail rounds. Pinned against the
    distributed fixpoint by tests/test_round15_kcore_local.py."""
    from oic_options_chains_spark.operators import clusters

    # materialize the (sparse, <= n*k) edge list once: the undirected
    # union references it twice, which would re-run the whole upstream
    # kNN build per branch
    fwd = edges.select("src", "dst").localCheckpoint(eager=True)
    surv = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    n_edges = surv.count()
    final_deg = None
    for i in range(rounds):
        if n_edges <= clusters.LOCAL_FINISH_MAX_EDGES:
            rows = surv.limit(n_edges + 1).collect()
            # a real raise, not assert: guards an unbounded driver
            # collect at scale and must survive python -O
            if len(rows) > n_edges:
                raise RuntimeError("edge set grew past its count")
            es = [(r["src"], r["dst"]) for r in rows]
            for _ in range(rounds - i):
                deg: dict = {}
                for s, _d in es:
                    deg[s] = deg.get(s, 0) + 1
                kept = {s for s, c in deg.items() if c >= k}
                nxt = [(s, d) for s, d in es if s in kept and d in kept]
                if len(nxt) == len(es):
                    break
                es = nxt
            deg = {}
            for s, _d in es:
                deg[s] = deg.get(s, 0) + 1
            src_type = surv.schema["src"].dataType.simpleString()
            final_deg = surv.sparkSession.createDataFrame(
                list(deg.items()) or [],
                f"src {src_type}, core_degree bigint",
            )
            break
        keep = (
            surv.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= k)
            .select("src")
        )
        surv = (
            surv.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        # early exit preserves the fixed-round contract: peeling is
        # monotone, so a round that removes nothing makes every further
        # round a no-op — same survivor set as running all N. The count
        # is a bounded scalar over the just-checkpointed edge set.
        n_next = surv.count()
        if n_next == n_edges:
            break
        n_edges = n_next
    if final_deg is None:
        final_deg = surv.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("core_degree")
        )
    base = nodes.select(F.col(id_col).alias("node")).distinct()
    return base.join(
        final_deg, base["node"] == final_deg["src"], "left"
    ).select(
        "node",
        F.when(F.col("core_degree").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("in_core"),
        F.coalesce(F.col("core_degree"), F.lit(0))
        .cast("bigint")
        .alias("core_degree"),
    )
