"""Clustering t2 queries: exact-integer Lloyd k-means and the IVF
retrieval built on its cells (the FAISS-style coarse-quantizer path).

The DuckDB oracle unrolls the Lloyd iterations as CTE blocks over the
LONG form (vec_id, pos, q); the Spark side runs the wide array form in
``operators/kmeans.py``. Both keep every cross-row aggregate integer and
share one fixed-shape double distance expression for assignments, and
the IVF probe-cell ranking is exact-integer (cross-multiplied rationals,
no double anywhere in that decision path), so assignments and probe
sets — and therefore every output value — match bit-for-bit (see the
module docstring in operators/kmeans.py for the exactness argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.kmeans import (
    ivf_kmeans_topk,
    kmeans_fit,
    semantic_dedup,
    semantic_dedup_auto_eps,
)
from oic_options_chains_spark.queries.registry import register
from oic_options_chains_spark.sources.registry import load_table

_K = 8
_ITERS = 2


def _spread(e: DataFrame) -> DataFrame:
    """Hash-repartition the embeddings relation by id before the
    CPU-dense interpreted-HOF assignment folds. Same rationale as the
    ``broadcast_candidates`` probe repartition in
    operators/similarity.py: a compact single-file parquet scan yields
    ONE split, so without an explicit exchange every per-row fold runs
    on one core. All downstream decisions are order-independent
    integer/decimal aggregates, so partitioning cannot change any
    output. At cluster scale the scan already arrives in thousands of
    splits and this exchange is a no-op-sized rebalance of (id, vector)
    rows — never a join-side blowup."""
    from oic_options_chains_spark.operators.similarity import _probe_partitions

    return e.repartition(_probe_partitions(e), F.col("vec_id"))



# d must match operators/kmeans._dist exactly: a - 2.0*b/n + ss/(n*n),
# every operand cast to double, left-to-right.
_D_SQL = (
    "CAST(a.a AS DOUBLE) - 2.0 * CAST(b{i}.b AS DOUBLE) / CAST(m.n AS DOUBLE)"
    " + CAST(m.ss AS DOUBLE) / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE))"
)


def _kmeans_cte(k: int = _K, iters: int = _ITERS, where: str = "") -> str:
    """WITH-clause prefix computing a{iters} (assignments) and
    c{iters}/m{iters} (final centroid sums and moments). ``where``
    optionally restricts the TRAINING rows (the drift monitor trains on
    the reference half only)."""
    parts = [
        f"""qv AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 4096) AS BIGINT) AS q
      FROM embeddings {where}),
    av AS (SELECT vec_id, SUM(q*q) AS a FROM qv GROUP BY vec_id),
    -- seeds are the k lowest ids ACTUALLY PRESENT in the training
    -- relation (mirrors kmeans_fit's sort-limit), not "id < k" — on a
    -- sparse/offset id space the latter silently trains fewer cells
    seed0 AS (SELECT DISTINCT vec_id FROM qv ORDER BY vec_id LIMIT {k}),
    c0 AS (SELECT vec_id AS cid, pos, q AS s FROM qv
           WHERE vec_id IN (SELECT vec_id FROM seed0)),
    m0 AS (SELECT cid, CAST(1 AS BIGINT) AS n, SUM(s*s) AS ss FROM c0 GROUP BY cid)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        d_expr = _D_SQL.format(i=i)
        parts.append(
            f""",
    b{i} AS (SELECT v.vec_id, c.cid, SUM(v.q * c.s) AS b
             FROM qv v JOIN c{p} c ON v.pos = c.pos GROUP BY v.vec_id, c.cid),
    d{i} AS (SELECT b{i}.vec_id, b{i}.cid, {d_expr} AS d
             FROM b{i} JOIN m{p} m ON b{i}.cid = m.cid
                       JOIN av a ON b{i}.vec_id = a.vec_id),
    a{i} AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
               FROM d{i}) WHERE rn = 1),
    c{i} AS (SELECT a.cid, v.pos, SUM(v.q) AS s
             FROM a{i} a JOIN qv v ON a.vec_id = v.vec_id GROUP BY a.cid, v.pos),
    m{i} AS (SELECT s.cid, n.n, s.ss FROM
               (SELECT cid, SUM(s*s) AS ss FROM c{i} GROUP BY cid) s
               JOIN (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
                     FROM a{i} GROUP BY cid) n ON s.cid = n.cid)"""
        )
    return "WITH " + "".join(parts)


@register(
    "q_kmeans",
    oracle=f"""
    {_kmeans_cte()}
    SELECT a.vec_id, a.cid AS cluster_id, m.n AS cluster_n
    FROM a{_ITERS} a JOIN m{_ITERS} m ON a.cid = m.cid
    """,
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations, k=8, deterministic lowest-id seeding: every
    vector's final cell plus its cell population. Assignment is a
    broadcast-fold projection (zero shuffle); each update is one
    map-side-combined (cid, pos) exchange."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_fit(e, k=_K, iters=_ITERS)
    return assigned.join(centroids.select("cid", "n"), "cid").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("n").alias("cluster_n"),
    )


@register(
    "q_ann_ivf_kmeans",
    oracle=f"""
    {_kmeans_cte()},
    qq AS (SELECT pos, q FROM qv WHERE vec_id = 0),
    bq AS (SELECT c.cid, SUM(q0.q * c.s) AS b
           FROM qq q0 JOIN c{_ITERS} c ON q0.pos = c.pos GROUP BY c.cid),
    -- probe ranking is exact-integer: cell distance is the rational
    -- num/n^2 with num = a*n^2 - 2*b*n + ss; cell i ranks ahead of j
    -- iff num_i * nn_j < num_j * nn_i (HUGEINT cross-multiplication,
    -- mirroring the decimal(38,0) comparison in operators/kmeans.py)
    nq AS (SELECT bq.cid,
                  CAST(a.a AS HUGEINT) * CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT)
                    - 2 * CAST(bq.b AS HUGEINT) * CAST(m.n AS HUGEINT)
                    + CAST(m.ss AS HUGEINT) AS num,
                  CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT) AS nn
           FROM bq JOIN m{_ITERS} m ON bq.cid = m.cid
                   CROSS JOIN (SELECT a FROM av WHERE vec_id = 0) a),
    probe AS (SELECT cid FROM (
                SELECT l.cid,
                       SUM(CASE WHEN r.num * l.nn < l.num * r.nn
                                  OR (r.num * l.nn = l.num * r.nn AND r.cid < l.cid)
                             THEN 1 ELSE 0 END) AS ahead
                FROM nq l CROSS JOIN nq r GROUP BY l.cid)
              WHERE ahead < 2),
    cand AS (SELECT a.vec_id FROM a{_ITERS} a JOIN probe p ON a.cid = p.cid
             WHERE a.vec_id <> 0),
    dist AS (SELECT c.vec_id, SUM((v.q - q0.q) * (v.q - q0.q)) AS dist
             FROM cand c JOIN qv v ON v.vec_id = c.vec_id
                         JOIN qq q0 ON v.pos = q0.pos
             GROUP BY c.vec_id)
    -- Output-type contract: SUM() over BIGINT is HUGEINT in DuckDB, which
    -- the driver's pandas hash path degrades to float64; cast to BIGINT
    -- (quantized squared distances fit comfortably) so hashes are exact.
    SELECT vec_id, CAST(dist AS BIGINT) AS dist, CAST(rank AS INT) AS rank FROM (
      SELECT vec_id, dist,
             row_number() OVER (ORDER BY dist, vec_id) AS rank FROM dist)
    WHERE rank <= 5
    """,
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 for query vec_id=0 with the k-means coarse quantizer:
    probe the 2 nearest of 8 cells, exact integer-squared-distance rank
    inside them only — the retrieval path where corpus scan cost drops
    by n_probe/k while the quantizer stays hash-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_kmeans_topk(e, query_id=0, k=_K, iters=_ITERS, n_probe=2, topk=5)


_PR_ITER_SQL = """,
    i{i} AS (SELECT e.dst AS node, SUM(p.pr // d.deg) AS s
             FROM edges e JOIN deg d ON e.src = d.node
                          JOIN p{p} p ON e.src = p.node
             GROUP BY e.dst),
    p{i} AS (SELECT i.node, CAST(150000 + (85 * i.s) // 100 AS BIGINT) AS pr
             FROM i{i} i)"""


@register(
    "q_pagerank",
    oracle="""
    WITH eo AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    edges AS (
      SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(s AS VARCHAR) AS dst
      FROM eo
      UNION ALL
      SELECT 's' || CAST(s AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM eo),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
    p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM deg)"""
    + _PR_ITER_SQL.format(i=1, p=0)
    + _PR_ITER_SQL.format(i=2, p=1)
    + """
    SELECT p.node, p.pr, d.deg AS degree
    FROM p2 p JOIN deg d ON p.node = d.node
    """,
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-iteration integer PageRank over the symmetrized customer <->
    supplier trade graph (distinct pairs via orders x lineitem). The
    curation use: rank sources/domains by graph centrality before
    sampling. Exact fixed-point arithmetic end to end — see
    operators/clusters.pagerank_int."""
    from oic_options_chains_spark.operators.clusters import pagerank_int

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cnode = F.concat(F.lit("c"), F.col("c").cast("string"))
    snode = F.concat(F.lit("s"), F.col("s").cast("string"))
    edges = pairs.select(cnode.alias("src"), snode.alias("dst")).unionAll(
        pairs.select(snode.alias("src"), cnode.alias("dst"))
    )
    return pagerank_int(edges, iters=2)


_SEMDEDUP_EPS = 22_000_000  # squared quantized distance; ~1% of
# within-cluster pairs at the synthetic corpus's distance distribution


@register(
    "q_semdedup",
    oracle=f"""
    {_kmeans_cte()},
    pr AS (SELECT a.vec_id AS hi, a.cid, b.vec_id AS lo
           FROM a{_ITERS} a JOIN a{_ITERS} b
             ON a.cid = b.cid AND b.vec_id < a.vec_id),
    d AS (SELECT pr.hi, pr.cid, pr.lo,
                 SUM((va.q - vb.q) * (va.q - vb.q)) AS d
          FROM pr JOIN qv va ON va.vec_id = pr.hi
                  JOIN qv vb ON vb.vec_id = pr.lo AND va.pos = vb.pos
          GROUP BY 1, 2, 3)
    SELECT hi AS vec_id, cid,
           CAST(MIN(lo) AS BIGINT) AS keeper,
           CAST(arg_min(d, lo) AS BIGINT) AS dist
    FROM d WHERE d <= {_SEMDEDUP_EPS}
    GROUP BY hi, cid
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: embedding-level near-duplicates found WITHIN k-means
    cells only — the dropped vectors, each with its lowest-id qualifying
    keeper and the exact integer distance to it. The clustering bounds
    the pairing to sum(cell^2), never corpus^2 (the LSH-band trick, but
    with a learned partition); decisions reuse the exact-moment
    assignment, so the oracle replays bit-for-bit."""
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return semantic_dedup(e, eps=_SEMDEDUP_EPS, k=_K, iters=_ITERS)


_SUB_BITS = 3


@register(
    "q_semdedup_sub",
    oracle=f"""
    {_kmeans_cte()},
    sb AS (SELECT vec_id,
                  (CASE WHEN MAX(CASE WHEN pos = 0 THEN q END) > 0
                        THEN '1' ELSE '0' END ||
                   CASE WHEN MAX(CASE WHEN pos = 1 THEN q END) > 0
                        THEN '1' ELSE '0' END ||
                   CASE WHEN MAX(CASE WHEN pos = 2 THEN q END) > 0
                        THEN '1' ELSE '0' END) AS sub
           FROM qv GROUP BY vec_id),
    pr AS (SELECT a.vec_id AS hi, a.cid, b.vec_id AS lo
           FROM a{_ITERS} a JOIN a{_ITERS} b
             ON a.cid = b.cid AND b.vec_id < a.vec_id
           JOIN sb sa ON sa.vec_id = a.vec_id
           JOIN sb sbb ON sbb.vec_id = b.vec_id AND sbb.sub = sa.sub),
    d AS (SELECT pr.hi, pr.cid, pr.lo,
                 SUM((va.q - vb.q) * (va.q - vb.q)) AS d
          FROM pr JOIN qv va ON va.vec_id = pr.hi
                  JOIN qv vb ON vb.vec_id = pr.lo AND va.pos = vb.pos
          GROUP BY 1, 2, 3)
    SELECT hi AS vec_id, cid,
           CAST(MIN(lo) AS BIGINT) AS keeper,
           CAST(arg_min(d, lo) AS BIGINT) AS dist
    FROM d WHERE d <= {_SEMDEDUP_EPS}
    GROUP BY hi, cid
    """,
)
def q_semdedup_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the sub-LSH scale knob on (``semantic_dedup(
    sub_bits=3)``): within-cell pairing additionally restricted to the
    same sign-bucket of the leading 3 quantized dims. This is the
    100 TB form the scale curve validated (SCALING.md round-6 section:
    slope 1.18 -> 0.34 at 10x data; raising k instead measured WORSE
    because the Lloyd fit's assignment join goes superlinear). The
    oracle replays the sub-bucket restriction exactly, so the knob's
    pairing semantics — not just its speed — are hash-checked."""
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return semantic_dedup(
        e, eps=_SEMDEDUP_EPS, k=_K, iters=_ITERS, sub_bits=_SUB_BITS
    )


# hot_cell_cap pinned LOW so the per-cell routing ACTIVATES on the
# 500-vector gate corpus (~62 per cell at k=8 -> width ceil(log2(62/16))
# = 2): the production default (similarity.DEFAULT_TARGET_BUCKET_ROWS =
# 1024) never trips at gate scale, which would leave the routing
# semantics oracle-unchecked — exactly the registered-form-vs-production
# gap the r11 verdict flagged for decontam/PQ.
_ROUTED_CAP = 16


@register(
    "q_semdedup_routed",
    oracle=f"""
    {_kmeans_cte()},
    hw AS (SELECT cid,
                  LEAST(16, GREATEST(1, CAST(CEIL(LOG2(
                      cn / {_ROUTED_CAP}.0)) AS INT))) AS w
           FROM (SELECT cid, COUNT(*) AS cn FROM a{_ITERS} GROUP BY 1)
           WHERE cn > {_ROUTED_CAP}),
    sb AS (SELECT vec_id,
                  string_agg(CASE WHEN q > 0 THEN '1' ELSE '0' END,
                             '' ORDER BY pos) AS p16
           FROM qv WHERE pos < 16 GROUP BY vec_id),
    pr AS (SELECT a.vec_id AS hi, a.cid, b.vec_id AS lo
           FROM a{_ITERS} a JOIN a{_ITERS} b
             ON a.cid = b.cid AND b.vec_id < a.vec_id
           LEFT JOIN hw ON hw.cid = a.cid
           JOIN sb sa ON sa.vec_id = a.vec_id
           JOIN sb sbb ON sbb.vec_id = b.vec_id
           WHERE hw.cid IS NULL
              OR substr(sa.p16, 1, hw.w) = substr(sbb.p16, 1, hw.w)),
    d AS (SELECT pr.hi, pr.cid, pr.lo,
                 SUM((va.q - vb.q) * (va.q - vb.q)) AS d
          FROM pr JOIN qv va ON va.vec_id = pr.hi
                  JOIN qv vb ON vb.vec_id = pr.lo AND va.pos = vb.pos
          GROUP BY 1, 2, 3)
    SELECT hi AS vec_id, cid,
           CAST(MIN(lo) AS BIGINT) AS keeper,
           CAST(arg_min(d, lo) AS BIGINT) AS dist
    FROM d WHERE d <= {_SEMDEDUP_EPS}
    GROUP BY hi, cid
    """,
)
def q_semdedup_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the round-11 PER-CELL hot routing active
    (``semantic_dedup(hot_cell_cap=16)``, sub_bits left at the routed
    default): every cell at or under the cap pairs exactly; a cell
    above it pairs within a sign-LSH sub-bucket sized to its OWN
    overflow, ceil(log2(cell/cap)) leading-dim signs (kmeans.py
    ``_hot_cell_widths``). The cap is pinned far below the production
    1024 so the routing TRIPS on the gate corpus and the oracle replays
    the per-cell widths, the prefix split, and the surviving pair set —
    the routing semantics themselves are the contract here, not just
    the healthy-cell exact path q_semdedup already checks."""
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return semantic_dedup(
        e, eps=_SEMDEDUP_EPS, k=_K, iters=_ITERS, hot_cell_cap=_ROUTED_CAP
    )


_N_SUB = 8
_K_SUB = 16
_SUB_DIM = 8


def _pq_cte(
    n_sub: int = _N_SUB,
    k_sub: int = _K_SUB,
    iters: int = _ITERS,
    sub_dim: int = _SUB_DIM,
    standalone: bool = False,
) -> str:
    """CTE blocks unrolling the per-subspace Lloyd recursion of
    operators/pq.py: sv (subvector long form), pw (per-(vec, sub) a
    moments), then per iteration pb/pn/pa/pc/pm — pa{iters} is the final
    (vec_id, sub, code) assignment, pm{iters}/pc{iters} the final
    codebook state. Assignment mirrors ``pq._argmin_code``'s exact
    HUGEINT cross-multiplication as count-of-cells-ahead = 0. With
    ``standalone`` the block opens its own WITH and defines qv
    (otherwise it extends a ``_kmeans_cte`` prefix that already has
    it)."""
    head = (
        """WITH qv AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 4096) AS BIGINT) AS q
      FROM embeddings),
    """
        if standalone
        else ",\n    "
    )
    parts = [
        head
        + f"""sv AS (SELECT vec_id, pos // {sub_dim} AS sub,
                 pos % {sub_dim} AS spos, q FROM qv),
    pw AS (SELECT vec_id, sub, SUM(q*q) AS a FROM sv GROUP BY 1, 2),
    -- k_sub lowest ids present (mirrors _pq_fit_qv's sort-limit)
    pseed0 AS (SELECT DISTINCT vec_id FROM sv ORDER BY vec_id LIMIT {k_sub}),
    pc0 AS (SELECT sub, vec_id AS cid, spos, q AS s FROM sv
            WHERE vec_id IN (SELECT vec_id FROM pseed0)),
    pm0 AS (SELECT sub, cid, CAST(1 AS BIGINT) AS n,
                   SUM(CAST(s AS HUGEINT) * s) AS ss
            FROM pc0 GROUP BY 1, 2)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f""",
    pb{i} AS (SELECT v.vec_id, c.sub, c.cid, SUM(v.q * c.s) AS b
              FROM sv v JOIN pc{p} c ON v.sub = c.sub AND v.spos = c.spos
              GROUP BY 1, 2, 3),
    pn{i} AS (SELECT pb.vec_id, pb.sub, pb.cid,
                     CAST(w.a AS HUGEINT) * m.n * m.n
                       - 2 * CAST(pb.b AS HUGEINT) * m.n + m.ss AS num,
                     CAST(m.n AS HUGEINT) * m.n AS nn
              FROM pb{i} pb JOIN pm{p} m ON pb.sub = m.sub AND pb.cid = m.cid
                            JOIN pw w ON w.vec_id = pb.vec_id AND w.sub = pb.sub),
    pa{i} AS (SELECT vec_id, sub, cid AS code FROM (
                SELECT l.vec_id, l.sub, l.cid,
                       SUM(CASE WHEN r.num * l.nn < l.num * r.nn
                                  OR (r.num * l.nn = l.num * r.nn
                                      AND r.cid < l.cid)
                             THEN 1 ELSE 0 END) AS ahead
                FROM pn{i} l JOIN pn{i} r
                  ON l.vec_id = r.vec_id AND l.sub = r.sub
                GROUP BY 1, 2, 3) WHERE ahead = 0),
    pc{i} AS (SELECT a.sub, a.code AS cid, v.spos, SUM(v.q) AS s
              FROM pa{i} a JOIN sv v
                ON v.vec_id = a.vec_id AND v.sub = a.sub
              GROUP BY 1, 2, 3),
    pm{i} AS (SELECT s.sub, s.cid, n.n, s.ss FROM
                (SELECT sub, cid, SUM(CAST(s AS HUGEINT) * s) AS ss
                 FROM pc{i} GROUP BY 1, 2) s
                JOIN (SELECT sub, code AS cid, CAST(COUNT(*) AS BIGINT) AS n
                      FROM pa{i} GROUP BY 1, 2) n
                ON s.sub = n.sub AND s.cid = n.cid)"""
        )
    return "".join(parts)


@register(
    "q_pq_codes",
    oracle=f"""
    {_pq_cte(standalone=True)}
    SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
    FROM pa{_ITERS}
    """,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes: every vector's 8 nearest-sub-centroid
    ids after two Lloyd iterations per subspace (k_sub=16) — the ~8-byte
    compressed representation the IVF-ADC scan reads instead of raw
    vectors. Assignment is a zero-shuffle broadcast fold with exact
    decimal cross-multiplied argmin (operators/pq.assign_codes)."""
    from oic_options_chains_spark.operators.pq import pq_fit

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    coded, _ = pq_fit(e, n_sub=_N_SUB, k_sub=_K_SUB, iters=_ITERS, sub_dim=_SUB_DIM)
    return coded.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).select("vec_id", F.col("sub").cast("int").alias("sub"), "code")


@register(
    "q_ann_ivf_pq",
    oracle=f"""
    {_kmeans_cte()}{_pq_cte()},
    qq AS (SELECT pos, q FROM qv WHERE vec_id = 0),
    bq AS (SELECT c.cid, SUM(q0.q * c.s) AS b
           FROM qq q0 JOIN c{_ITERS} c ON q0.pos = c.pos GROUP BY c.cid),
    nq AS (SELECT bq.cid,
                  CAST(a.a AS HUGEINT) * CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT)
                    - 2 * CAST(bq.b AS HUGEINT) * CAST(m.n AS HUGEINT)
                    + CAST(m.ss AS HUGEINT) AS num,
                  CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT) AS nn
           FROM bq JOIN m{_ITERS} m ON bq.cid = m.cid
                   CROSS JOIN (SELECT a FROM av WHERE vec_id = 0) a),
    probe AS (SELECT cid FROM (
                SELECT l.cid,
                       SUM(CASE WHEN r.num * l.nn < l.num * r.nn
                                  OR (r.num * l.nn = l.num * r.nn AND r.cid < l.cid)
                             THEN 1 ELSE 0 END) AS ahead
                FROM nq l CROSS JOIN nq r GROUP BY l.cid)
              WHERE ahead < 2),
    qsv AS (SELECT pos // {_SUB_DIM} AS sub, pos % {_SUB_DIM} AS spos, q
            FROM qv WHERE vec_id = 0),
    qpw AS (SELECT sub, SUM(q*q) AS a FROM qsv GROUP BY 1),
    adcb AS (SELECT c.sub, c.cid, SUM(q0.q * c.s) AS b
             FROM qsv q0 JOIN pc{_ITERS} c
               ON q0.sub = c.sub AND q0.spos = c.spos
             GROUP BY 1, 2),
    adc AS (SELECT b.sub, b.cid,
                   CAST(((CAST(w.a AS HUGEINT) * m.n * m.n
                          - 2 * CAST(b.b AS HUGEINT) * m.n + m.ss) * 1048576)
                        // (CAST(m.n AS HUGEINT) * m.n) AS BIGINT) AS sd
            FROM adcb b JOIN pm{_ITERS} m ON b.sub = m.sub AND b.cid = m.cid
                        JOIN qpw w ON w.sub = b.sub),
    cand AS (SELECT a.vec_id FROM a{_ITERS} a JOIN probe p ON a.cid = p.cid
             WHERE a.vec_id <> 0),
    score AS (SELECT c.vec_id, CAST(SUM(adc.sd) AS BIGINT) AS score
              FROM cand c JOIN pa{_ITERS} pa ON pa.vec_id = c.vec_id
                          JOIN adc ON adc.sub = pa.sub AND adc.cid = pa.code
              GROUP BY 1)
    SELECT vec_id, score, CAST(rank AS INT) AS rank FROM (
      SELECT vec_id, score,
             row_number() OVER (ORDER BY score, vec_id) AS rank FROM score)
    WHERE rank <= 5
    """,
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC top-5 for query vec_id=0: coarse k-means probe (2 of 8
    cells, exact cross-multiplied ranking) + product-quantized
    candidates scored as the sum of 8 scaled-integer ADC table lookups —
    candidates' raw vectors are never read, which is the 100 TB memory
    story (codes are ~8 bytes/vector). Scores are scaled-integer by
    construction, so the ranking is hash-exact across engines.

    rerank=None pins the DIAGNOSTIC ADC-only form this oracle replays;
    the production retrieval default is ivf_pq_topk_batch's rerank=50
    (contracted by q_ann_pq_rerank)."""
    from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_topk_batch(
        e, [0], coarse_k=_K, n_probe=2, n_sub=_N_SUB,
        k_sub=_K_SUB, iters=_ITERS, topk=5, rerank=None,
    ).drop("qid")


# q_ann_pq_rerank: the IVF-ADC pipeline of q_ann_ivf_pq plus the
# accuracy stage — the ADC pass returns a top-50 shortlist whose REAL
# vectors are exact-re-ranked by quantized integer L2 (recall at sf2
# 10000bp vs the ADC-only 2666bp at ~equal cost, SCALE_CURVE
# q_ann_ivf_pq@rerank). Shared verbatim by q_ann_pq_served.

ANN_PQ_RERANK_ORACLE = f"""
    {_kmeans_cte()}{_pq_cte()},
    qq AS (SELECT pos, q FROM qv WHERE vec_id = 0),
    bq AS (SELECT c.cid, SUM(q0.q * c.s) AS b
           FROM qq q0 JOIN c{_ITERS} c ON q0.pos = c.pos GROUP BY c.cid),
    nq AS (SELECT bq.cid,
                  CAST(a.a AS HUGEINT) * CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT)
                    - 2 * CAST(bq.b AS HUGEINT) * CAST(m.n AS HUGEINT)
                    + CAST(m.ss AS HUGEINT) AS num,
                  CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT) AS nn
           FROM bq JOIN m{_ITERS} m ON bq.cid = m.cid
                   CROSS JOIN (SELECT a FROM av WHERE vec_id = 0) a),
    probe AS (SELECT cid FROM (
                SELECT l.cid,
                       SUM(CASE WHEN r.num * l.nn < l.num * r.nn
                                  OR (r.num * l.nn = l.num * r.nn AND r.cid < l.cid)
                             THEN 1 ELSE 0 END) AS ahead
                FROM nq l CROSS JOIN nq r GROUP BY l.cid)
              WHERE ahead < 2),
    qsv AS (SELECT pos // {_SUB_DIM} AS sub, pos % {_SUB_DIM} AS spos, q
            FROM qv WHERE vec_id = 0),
    qpw AS (SELECT sub, SUM(q*q) AS a FROM qsv GROUP BY 1),
    adcb AS (SELECT c.sub, c.cid, SUM(q0.q * c.s) AS b
             FROM qsv q0 JOIN pc{_ITERS} c
               ON q0.sub = c.sub AND q0.spos = c.spos
             GROUP BY 1, 2),
    adc AS (SELECT b.sub, b.cid,
                   CAST(((CAST(w.a AS HUGEINT) * m.n * m.n
                          - 2 * CAST(b.b AS HUGEINT) * m.n + m.ss) * 1048576)
                        // (CAST(m.n AS HUGEINT) * m.n) AS BIGINT) AS sd
            FROM adcb b JOIN pm{_ITERS} m ON b.sub = m.sub AND b.cid = m.cid
                        JOIN qpw w ON w.sub = b.sub),
    cand AS (SELECT a.vec_id FROM a{_ITERS} a JOIN probe p ON a.cid = p.cid
             WHERE a.vec_id <> 0),
    score AS (SELECT c.vec_id, CAST(SUM(adc.sd) AS BIGINT) AS score
              FROM cand c JOIN pa{_ITERS} pa ON pa.vec_id = c.vec_id
                          JOIN adc ON adc.sub = pa.sub AND adc.cid = pa.code
              GROUP BY 1),
    shortlist AS (SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY score, vec_id) AS srk
        FROM score) WHERE srk <= 50),
    ex AS (SELECT s.vec_id,
                  CAST(SUM((v.q - q0.q) * (v.q - q0.q)) AS BIGINT) AS score
           FROM shortlist s JOIN qv v ON v.vec_id = s.vec_id
                JOIN qq q0 ON q0.pos = v.pos
           GROUP BY 1)
    SELECT vec_id, score, CAST(rank AS INT) AS rank FROM (
      SELECT vec_id, score,
             row_number() OVER (ORDER BY score, vec_id) AS rank FROM ex)
    WHERE rank <= 5
"""


@register("q_ann_pq_rerank", oracle=ANN_PQ_RERANK_ORACLE)
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC top-5 with exact re-rank (ivf_pq_topk_batch(rerank=50)): the
    ADC stage's byte-cheap scan produces a 50-deep shortlist; only
    those 50 vectors are read and ranked by the exact quantized integer
    L2 (ties to the lowest id). Integer arithmetic end-to-end, so the
    oracle replays the whole pipeline — coarse probe, codebooks, ADC
    shortlist, exact re-rank — hash-exactly."""
    from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_topk_batch(
        e, [0], coarse_k=_K, n_probe=2, n_sub=_N_SUB,
        k_sub=_K_SUB, iters=_ITERS, topk=5, rerank=50,
    ).drop("qid")


# the serving shape: ONE fit, a SET of queries. The oracle generalizes
# ANN_PQ_RERANK_ORACLE by keying every query-side CTE on qid.
_BATCH_QIDS = (0, 17, 101)

ANN_PQ_BATCH_ORACLE = f"""
    {_kmeans_cte()}{_pq_cte()},
    qids AS (SELECT * FROM (VALUES (0), (17), (101)) t(qid)),
    qq AS (SELECT q.qid, v.pos, v.q FROM qv v JOIN qids q ON v.vec_id = q.qid),
    qa AS (SELECT q.qid, a.a FROM av a JOIN qids q ON a.vec_id = q.qid),
    bq AS (SELECT q0.qid, c.cid, SUM(q0.q * c.s) AS b
           FROM qq q0 JOIN c{_ITERS} c ON q0.pos = c.pos GROUP BY 1, 2),
    nq AS (SELECT bq.qid, bq.cid,
                  CAST(qa.a AS HUGEINT) * CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT)
                    - 2 * CAST(bq.b AS HUGEINT) * CAST(m.n AS HUGEINT)
                    + CAST(m.ss AS HUGEINT) AS num,
                  CAST(m.n AS HUGEINT) * CAST(m.n AS HUGEINT) AS nn
           FROM bq JOIN m{_ITERS} m ON bq.cid = m.cid
                   JOIN qa ON qa.qid = bq.qid),
    probe AS (SELECT qid, cid FROM (
                SELECT l.qid, l.cid,
                       SUM(CASE WHEN r.num * l.nn < l.num * r.nn
                                  OR (r.num * l.nn = l.num * r.nn AND r.cid < l.cid)
                             THEN 1 ELSE 0 END) AS ahead
                FROM nq l JOIN nq r ON l.qid = r.qid GROUP BY 1, 2)
              WHERE ahead < 2),
    qsv AS (SELECT qid, pos // {_SUB_DIM} AS sub, pos % {_SUB_DIM} AS spos, q
            FROM qq),
    qpw AS (SELECT qid, sub, SUM(q*q) AS a FROM qsv GROUP BY 1, 2),
    adcb AS (SELECT q0.qid, c.sub, c.cid, SUM(q0.q * c.s) AS b
             FROM qsv q0 JOIN pc{_ITERS} c
               ON q0.sub = c.sub AND q0.spos = c.spos
             GROUP BY 1, 2, 3),
    adc AS (SELECT b.qid, b.sub, b.cid,
                   CAST(((CAST(w.a AS HUGEINT) * m.n * m.n
                          - 2 * CAST(b.b AS HUGEINT) * m.n + m.ss) * 1048576)
                        // (CAST(m.n AS HUGEINT) * m.n) AS BIGINT) AS sd
            FROM adcb b JOIN pm{_ITERS} m ON b.sub = m.sub AND b.cid = m.cid
                        JOIN qpw w ON w.qid = b.qid AND w.sub = b.sub),
    cand AS (SELECT p.qid, a.vec_id FROM a{_ITERS} a JOIN probe p ON a.cid = p.cid
             WHERE a.vec_id <> p.qid),
    score AS (SELECT c.qid, c.vec_id, CAST(SUM(adc.sd) AS BIGINT) AS score
              FROM cand c JOIN pa{_ITERS} pa ON pa.vec_id = c.vec_id
                          JOIN adc ON adc.qid = c.qid AND adc.sub = pa.sub
                                  AND adc.cid = pa.code
              GROUP BY 1, 2),
    shortlist AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS srk
        FROM score) WHERE srk <= 50),
    ex AS (SELECT s.qid, s.vec_id,
                  CAST(SUM((v.q - q0.q) * (v.q - q0.q)) AS BIGINT) AS score
           FROM shortlist s JOIN qv v ON v.vec_id = s.vec_id
                JOIN qq q0 ON q0.qid = s.qid AND q0.pos = v.pos
           GROUP BY 1, 2)
    SELECT CAST(qid AS BIGINT) AS qid, vec_id, score,
           CAST(rank AS INT) AS rank FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score, vec_id) AS rank
      FROM ex)
    WHERE rank <= 5
"""


@register("q_ann_pq_batch", oracle=ANN_PQ_BATCH_ORACLE)
def q_ann_pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC top-5 for a SET of queries against ONE fit
    (``pq.ivf_pq_topk_batch`` — the serving shape: at 100 TB the index
    is trained once and queried millions of times, so per-query cost
    must not include the fit). Coarse probe, ADC tables, shortlist and
    exact re-rank all key on qid; the corpus-side scan reads codes
    only, ONCE, for every query simultaneously. Integer end-to-end —
    each qid's rows equal that qid run alone as a one-query batch
    (property: tests/test_round12_batch.py) and the oracle replays the
    whole batch."""
    from oic_options_chains_spark.operators.pq import ivf_pq_topk_batch

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return ivf_pq_topk_batch(
        e, _BATCH_QIDS, coarse_k=_K, n_probe=2, n_sub=_N_SUB,
        k_sub=_K_SUB, iters=_ITERS, topk=5, rerank=50,
    )


@register("q_ann_pq_served", oracle=ANN_PQ_RERANK_ORACLE)
def q_ann_pq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ADC top-5 against a MATERIALIZED index (the other half of
    the serving story q_ann_pq_batch covers): the coarse
    assignment, centroid moments, PQ codes and codebooks are trained
    once per corpus epoch (pq.materialize_ivf_pq_index via the shared
    sources/epoch cache) and every query after that is
    ivf_pq_topk_batch(index=...) — per-query work is the broadcast probe,
    the 128-row ADC table, a code scan of the probed cells and the
    50-row exact re-rank; NO k-means runs at query time. Fits are
    deterministic, so this key shares q_ann_pq_rerank's oracle
    verbatim: the served rows must be bit-for-bit the inline fit's."""
    import os

    from oic_options_chains_spark.operators.pq import (
        ivf_pq_topk_batch,
        materialize_ivf_pq_index,
        read_ivf_pq_index,
    )
    from oic_options_chains_spark.sources.epoch import epoch_dir

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    path = epoch_dir(
        os.path.join(sf_dir, "embeddings.parquet"),
        f"ivfpq-v1:k{_K}:s{_N_SUB}:c{_K_SUB}:i{_ITERS}",
        lambda tmp: materialize_ivf_pq_index(
            e, tmp, coarse_k=_K, n_sub=_N_SUB, k_sub=_K_SUB, iters=_ITERS
        ),
    )
    idx = read_ivf_pq_index(spark, path)
    # no fit params here: subspace structure travels with the artifact
    return ivf_pq_topk_batch(
        e, [0], n_probe=2, topk=5, rerank=50, index=idx
    ).drop("qid")


@register(
    "q_knn_triangles",
    # distances are integer L2 over the shared floor(x*4096) quantization;
    # the triangle join in the oracle uses natural a<b<c order, which is
    # algorithm-independent of the Spark side's degree orientation — the
    # per-corner counts are identical either way. The sign-bucket width
    # replays similarity.bits_for (ceil(log2(n/1024)), floor 1, cap 16)
    # in SQL, so the oracle tracks the Spark side's auto-derived bits at
    # ANY sf, not just the gate's.
    oracle="""
    WITH nb AS (
      SELECT CASE WHEN COUNT(*) <= 1024 THEN 1
             ELSE LEAST(16, GREATEST(1, CAST(CEIL(LOG2(COUNT(*) / 1024.0))
                                             AS INT))) END AS b
      FROM embeddings),
    q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096)
                                      AS BIGINT)) AS qa,
             list_transform(list_slice(embedding, 1, (SELECT b FROM nb)),
                            x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings),
    d AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_reduce(list_transform(list_zip(a.qa, b.qa),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (acc, x) -> acc + x) AS dist
      FROM q a JOIN q b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rk
          FROM d),
    kn AS (SELECT src, dst FROM r WHERE rk <= 6),
    mu AS (SELECT a.src AS a, a.dst AS b
           FROM kn a JOIN kn b ON a.src = b.dst AND a.dst = b.src
           WHERE a.src < a.dst),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT a AS node FROM mu UNION ALL SELECT b FROM mu)
            GROUP BY 1),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM mu e1
            JOIN mu e2 ON e1.b = e2.a
            JOIN mu e3 ON e3.a = e1.a AND e3.b = e2.b),
    tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
           FROM (SELECT x AS node FROM tri
                 UNION ALL SELECT y FROM tri
                 UNION ALL SELECT z FROM tri)
           GROUP BY 1)
    SELECT d.node AS vec_id, d.degree,
           COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles
    FROM deg d LEFT JOIN tn t ON d.node = t.node
    """,
)
def q_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local triangle counts over the mutual-6-NN embedding graph
    (operators/graph.py): degree and clustering-coefficient numerator
    per vector — the coherence diagnostic for semantic clusters (a
    well-clustered neighborhood closes its wedges; an accidental hub
    does not). Neighbor candidates are sign-bucket-bounded (the
    SemDeDup within-cell pairing — never all-pairs), ranked by exact
    quantized-integer L2; degree-ordered orientation bounds the wedge
    relation at O(|E|^1.5) even on skewed graphs."""
    from oic_options_chains_spark.operators.graph import (
        bucketed_knn_edges,
        mutual_edges,
        triangle_counts,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = mutual_edges(
        bucketed_knn_edges(emb, k=6, broadcast_candidates=True)
    )
    return triangle_counts(edges).select(
        F.col("node").alias("vec_id"), "degree", "n_triangles"
    )


@register(
    "q_drift_cells",
    oracle=f"""
    {_kmeans_cte(where="WHERE vec_id % 2 = 0")},
    qa AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 4096) AS BIGINT) AS q
      FROM embeddings),
    aa AS (SELECT vec_id, SUM(q*q) AS a FROM qa GROUP BY vec_id),
    bf AS (SELECT v.vec_id, c.cid, SUM(v.q * c.s) AS b
           FROM qa v JOIN c{_ITERS} c ON v.pos = c.pos GROUP BY v.vec_id, c.cid),
    df AS (SELECT bf.vec_id, bf.cid,
                  CAST(a.a AS DOUBLE) - 2.0 * CAST(bf.b AS DOUBLE) / CAST(m.n AS DOUBLE)
                    + CAST(m.ss AS DOUBLE) / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)) AS d
           FROM bf JOIN m{_ITERS} m ON bf.cid = m.cid
                   JOIN aa a ON bf.vec_id = a.vec_id),
    af AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
             FROM df) WHERE rn = 1),
    counts AS (
      SELECT cid,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM af GROUP BY 1),
    tot AS (SELECT SUM(n_ref) AS tr, SUM(n_new) AS tn FROM counts)
    SELECT c.cid AS cell, c.n_ref, c.n_new,
           CAST(FLOOR((CAST(10000 AS DOUBLE) * c.n_ref) / t.tr) AS BIGINT) AS ref_share_bp,
           CAST(FLOOR((CAST(10000 AS DOUBLE) * c.n_new) / t.tn) AS BIGINT) AS new_share_bp
    FROM counts c CROSS JOIN tot t
    """,
)
def q_drift_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: fit the coarse quantizer
    on the REFERENCE half of the corpus (even vec_ids standing in for
    "last month"), assign BOTH halves to those frozen cells, and report
    each cell's basis-point population share per half — the shift
    report a curation pipeline reads before trusting a new crawl batch
    (a cell whose share moved is a topic that grew or vanished).
    Assignment is the public assignment-only wrapper (fold-routed for
    this k=8 direct pass — optimization r16 reclaimed the r15 kernel
    regression here: the kernel's eager centroid collect is a serialized
    extra job a once-scanned direct pass never amortizes); counts and
    shares are exact integers in the bounded-numerator floor regime."""
    from oic_options_chains_spark.operators.kmeans import (
        assign_cells,
        kmeans_fit,
        quantize,
    )

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    ref = e.filter(F.col("vec_id") % 2 == 0)
    _, cents = kmeans_fit(ref, k=_K, iters=_ITERS)
    assigned = assign_cells(quantize(e), cents)
    counts = assigned.groupBy(F.col("cid").alias("cell")).agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ref"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_new").alias("__tn")
    )
    share = lambda n, t: (  # noqa: E731
        F.floor((F.lit(10000).cast("double") * F.col(n)) / F.col(t)).cast("bigint")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_ref",
        "n_new",
        share("n_ref", "__tr").alias("ref_share_bp"),
        share("n_new", "__tn").alias("new_share_bp"),
    )


@register(
    "q_centroid_probe",
    oracle="""
    WITH qv AS (
      SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 4096) AS BIGINT) AS q
      FROM embeddings),
    av AS (SELECT vec_id, SUM(q*q) AS a FROM qv GROUP BY vec_id),
    lb AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
    c AS (SELECT l.label AS cid, v.pos, SUM(v.q) AS s
          FROM qv v JOIN lb l ON v.vec_id = l.vec_id GROUP BY 1, 2),
    m AS (SELECT s.cid, n.n, s.ss FROM
            (SELECT cid, SUM(s*s) AS ss FROM c GROUP BY cid) s
            JOIN (SELECT label AS cid, CAST(COUNT(*) AS BIGINT) AS n
                  FROM lb GROUP BY 1) n ON s.cid = n.cid),
    b AS (SELECT v.vec_id, c.cid, SUM(v.q * c.s) AS b
          FROM qv v JOIN c ON v.pos = c.pos GROUP BY v.vec_id, c.cid),
    d AS (SELECT b.vec_id, b.cid,
                 CAST(a.a AS DOUBLE) - 2.0 * CAST(b.b AS DOUBLE) / CAST(m.n AS DOUBLE)
                   + CAST(m.ss AS DOUBLE) / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)) AS d
          FROM b JOIN m ON b.cid = m.cid
                 JOIN av a ON b.vec_id = a.vec_id),
    pred AS (SELECT vec_id, cid FROM (
               SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
               FROM d) WHERE rn = 1)
    SELECT l.label, CAST(p.cid AS INT) AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM pred p JOIN lb l ON p.vec_id = l.vec_id
    GROUP BY 1, 2
    """,
)
def q_centroid_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid probe over the labeled embeddings: one centroid
    per label, every vector re-assigned by the shared exact-moment
    argmin, confusion matrix out (operators/kmeans.centroid_probe) —
    the model-free embedding-quality eval (diagonal mass = the space
    respects its labels). The distance is the module's fixed-shape
    double over integer moments, so the matrix is engine- and
    partitioning-exact."""
    from oic_options_chains_spark.operators.kmeans import centroid_probe

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    return centroid_probe(e)


_LP_EDGE_CTE = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096)
                                      AS BIGINT)) AS qa,
             (CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] > 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings),
    d AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_reduce(list_transform(list_zip(a.qa, b.qa),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (acc, x) -> acc + x) AS dist
      FROM q a JOIN q b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rk
          FROM d),
    kn AS (SELECT src, dst FROM r WHERE rk <= 6),
    mu AS (SELECT a.src AS a, a.dst AS b
           FROM kn a JOIN kn b ON a.src = b.dst AND a.dst = b.src
           WHERE a.src < a.dst),
    ed AS (SELECT a AS src, b AS dst FROM mu
           UNION ALL SELECT b AS src, a AS dst FROM mu),
    l0 AS (SELECT vec_id AS node, CAST(label AS INT) AS label,
                  0 AS round
           FROM embeddings WHERE vec_id % 5 = 0)"""

_LP_STEP_SQL = """,
    cand{i} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS n
      FROM ed e JOIN l{p} l ON e.src = l.node
      WHERE e.dst NOT IN (SELECT node FROM l{p})
      GROUP BY 1, 2),
    pick{i} AS (SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY n DESC, label ASC) AS rn
        FROM cand{i}) WHERE rn = 1),
    l{i} AS (SELECT node, label, round FROM l{p}
             UNION ALL SELECT node, label, {i} AS round FROM pick{i})"""


@register(
    "q_label_prop",
    oracle=_LP_EDGE_CTE
    + _LP_STEP_SQL.format(i=1, p=0)
    + _LP_STEP_SQL.format(i=2, p=1)
    + """
    SELECT node AS vec_id, CAST(label AS INT) AS label,
           CAST(round AS INT) AS round
    FROM l2
    """,
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier label propagation over the mutual-6-NN embedding graph:
    every fifth vector seeds its true label, two rounds of
    majority-vote expansion pseudo-label the frontier
    (operators/graph.label_propagation) — the semi-supervised labeling
    pass that stretches a small annotated set across a corpus. Votes
    are integer counts with a fixed (count desc, label asc) tie-break
    over the exact integer-L2 kNN graph, so the assignment replays
    bit-for-bit."""
    from oic_options_chains_spark.operators.graph import label_propagation

    emb = load_table(spark, sf_dir, "embeddings")
    edges, seeds = _lp_inputs(emb)
    return label_propagation(edges, seeds, rounds=2).select(
        F.col("node").alias("vec_id"), "label", "round"
    )


def _lp_inputs(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (edges, seeds) pair both label-propagation queries share —
    ONE place to keep in lockstep with the `_LP_EDGE_CTE` oracle
    (mutual-6-NN over 4-bit sign buckets; seeds = every fifth vector)."""
    from oic_options_chains_spark.operators.graph import (
        bucketed_knn_edges,
        mutual_edges,
    )

    edges = mutual_edges(
        bucketed_knn_edges(emb, k=6, bits=4, broadcast_candidates=True)
    )
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("node"), "label"
    )
    return edges, seeds


@register(
    "q_prop_accuracy",
    oracle=_LP_EDGE_CTE
    + _LP_STEP_SQL.format(i=1, p=0)
    + _LP_STEP_SQL.format(i=2, p=1)
    + """
    SELECT l.round AS round,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN l.label = CAST(e.label AS INT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(10000 * SUM(CASE WHEN l.label = CAST(e.label AS INT)
                            THEN 1 ELSE 0 END) // COUNT(*)
                AS BIGINT) AS accuracy_bp
    FROM l2 l JOIN embeddings e ON l.node = e.vec_id
    WHERE l.round > 0
    GROUP BY 1
    """,
)
def q_prop_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-label quality per propagation round: among NON-seed nodes
    the frontier labeled, how often the propagated label matches the
    held-back ground truth (basis points, integer division) — the eval
    that says whether expanding the annotation budget over the kNN
    graph is trustworthy, and how fast quality decays with distance
    from the seeds."""
    from oic_options_chains_spark.operators.graph import label_propagation

    emb = load_table(spark, sf_dir, "embeddings")
    edges, seeds = _lp_inputs(emb)
    prop = label_propagation(edges, seeds, rounds=2).filter(F.col("round") > 0)
    truth = emb.select(
        F.col("vec_id").alias("node"), F.col("label").cast("int").alias("__true")
    )
    return (
        prop.join(truth, "node")
        .groupBy("round")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.when(F.col("label") == F.col("__true"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
        .selectExpr(
            "round",
            "n_nodes",
            "n_correct",
            "CAST(10000 * n_correct div n_nodes AS BIGINT) AS accuracy_bp",
        )
    )


_AUTO_EPS_BP = 100  # drop the closest 1% of within-cell pairs


@register(
    "q_semdedup_auto",
    oracle=f"""
    {_kmeans_cte()},
    pr AS (SELECT a.vec_id AS hi, a.cid, b.vec_id AS lo
           FROM a{_ITERS} a JOIN a{_ITERS} b
             ON a.cid = b.cid AND b.vec_id < a.vec_id),
    d AS (SELECT pr.hi, pr.cid, pr.lo,
                 SUM((va.q - vb.q) * (va.q - vb.q)) AS d
          FROM pr JOIN qv va ON va.vec_id = pr.hi
                  JOIN qv vb ON vb.vec_id = pr.lo AND va.pos = vb.pos
          GROUP BY 1, 2, 3),
    r AS (SELECT d.*,
                 row_number() OVER (ORDER BY d, hi, lo) AS rn,
                 COUNT(*) OVER () AS n
          FROM d),
    e AS (SELECT CAST(d AS BIGINT) AS eps FROM r
          WHERE rn = GREATEST(1, (n * {_AUTO_EPS_BP}) // 10000))
    SELECT hi AS vec_id, cid,
           CAST(MIN(lo) AS BIGINT) AS keeper,
           CAST(arg_min(d, lo) AS BIGINT) AS dist,
           (SELECT eps FROM e) AS eps
    FROM d WHERE d <= (SELECT eps FROM e)
    GROUP BY hi, cid
    """,
)
def q_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a SELF-TUNED threshold: eps is the exact 1%-of-
    pairs lower order statistic of the within-cell distance
    distribution (operators/kmeans.semantic_dedup_auto_eps) instead of
    a per-corpus magic number — 'drop the closest 1% of pairs' is the
    contract that survives an embedding-model or corpus change at
    100 TB. The order statistic uses the two-phase global_rank (no
    single-reducer sort) and broadcasts one eps row back; the oracle
    replays the identical (d, hi, lo) total order."""
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    # sub_bits left at the AUTO default (scale-safe split past the cell
    # target, exact — and oracle-matching — at gate-scale corpora),
    # same coupling contract as q_semdedup
    return semantic_dedup_auto_eps(e, pct_bp=_AUTO_EPS_BP, k=_K, iters=_ITERS)


from oic_options_chains_spark.operators.sketches import (  # noqa: E402
    hll_linear_table,
    hll_numerator,
)

_HLL_NUM_16 = hll_numerator(16)
_HLL_TABLE_16 = ", ".join(str(x) for x in hll_linear_table(16))


@register(
    "q_anf",
    # the kNN-edge CTEs replay q_knn_triangles' construction (auto
    # sign-bucket width, quantized-integer L2, mutual filter); the
    # HyperBall rounds and the per-node estimate replay the integer HLL
    # math of operators/sketches.py with m=16 literals. MATERIALIZED on
    # every multiply-referenced CTE: inlining would re-expand the whole
    # kNN build once per reference.
    oracle=f"""
    WITH nb AS (
      SELECT CASE WHEN COUNT(*) <= 1024 THEN 1
             ELSE LEAST(16, GREATEST(1, CAST(CEIL(LOG2(COUNT(*) / 1024.0))
                                             AS INT))) END AS b
      FROM embeddings),
    q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096)
                                      AS BIGINT)) AS qa,
             list_transform(list_slice(embedding, 1, (SELECT b FROM nb)),
                            x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings),
    d AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_reduce(list_transform(list_zip(a.qa, b.qa),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (acc, x) -> acc + x) AS dist
      FROM q a JOIN q b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rk
          FROM d),
    kn AS MATERIALIZED (SELECT src, dst FROM r WHERE rk <= 6),
    mu AS MATERIALIZED (
      SELECT a.src AS a, a.dst AS b
      FROM kn a JOIN kn b ON a.src = b.dst AND a.dst = b.src
      WHERE a.src < a.dst),
    und AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM mu UNION ALL SELECT b, a FROM mu),
    h AS (SELECT vec_id AS node, md5(CAST(vec_id AS VARCHAR)) AS h
          FROM embeddings),
    g0 AS MATERIALIZED (
      SELECT node,
             CAST(concat('0x', substring(h, 1, 1)) AS INT) AS reg,
             CAST(IF(v = 0, 53, 53 - length(bin(v))) AS INT) AS rho
      FROM (SELECT node, h,
                   CAST(concat('0x', substring(h, 2, 13)) AS BIGINT) AS v
            FROM h)),
    g1 AS MATERIALIZED (
      SELECT node, reg, MAX(rho) AS rho FROM (
        SELECT u.src AS node, g.reg, g.rho
        FROM und u JOIN g0 g ON u.dst = g.node
        UNION ALL SELECT node, reg, rho FROM g0)
      GROUP BY node, reg),
    g2 AS MATERIALIZED (
      SELECT node, reg, MAX(rho) AS rho FROM (
        SELECT u.src AS node, g.reg, g.rho
        FROM und u JOIN g1 g ON u.dst = g.node
        UNION ALL SELECT node, reg, rho FROM g1)
      GROUP BY node, reg),
    e1 AS (
      SELECT node, CAST(1 AS INT) AS r,
             CAST(16 - COUNT(*) AS BIGINT) AS n_zero_regs,
             CAST(CAST('{_HLL_NUM_16}' AS HUGEINT)
                  // CAST(SUM((CAST(1 AS BIGINT) << (53 - rho)))
                          + (CAST(1 AS BIGINT) << 53) * (16 - COUNT(*))
                          AS HUGEINT) AS BIGINT) AS raw_est
      FROM g1 GROUP BY node),
    e2 AS (
      SELECT node, CAST(2 AS INT) AS r,
             CAST(16 - COUNT(*) AS BIGINT) AS n_zero_regs,
             CAST(CAST('{_HLL_NUM_16}' AS HUGEINT)
                  // CAST(SUM((CAST(1 AS BIGINT) << (53 - rho)))
                          + (CAST(1 AS BIGINT) << 53) * (16 - COUNT(*))
                          AS HUGEINT) AS BIGINT) AS raw_est
      FROM g2 GROUP BY node)
    SELECT node AS vec_id, r, n_zero_regs,
           CAST(IF(raw_est <= 40 AND n_zero_regs > 0,
                   ([{_HLL_TABLE_16}])[CAST(n_zero_regs AS INT)],
                   raw_est) AS BIGINT) AS estimate
    FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
    """,
)
def q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighborhood function (operators/graph.anf_ball_sizes,
    HyperBall): per embedding, the HLL-estimated count of distinct nodes
    within 1 and 2 hops of the mutual-6-NN graph — reach diagnostics
    that separate bounded semantic clumps from percolating template
    farms. Register-wise MAX is the whole per-round update, so a round
    costs one edges join + one bounded aggregation at any ball size."""
    from oic_options_chains_spark.operators.graph import (
        anf_ball_sizes,
        bucketed_knn_edges,
        mutual_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = mutual_edges(
        bucketed_knn_edges(emb, k=6, broadcast_candidates=True)
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return anf_ball_sizes(
        emb.select(F.col("vec_id").alias("node")), edges, rounds=2, b=4
    ).select(F.col("node").alias("vec_id"), "r", "n_zero_regs", "estimate")


# shared mutual-6-NN edge construction (same replay as q_knn_triangles /
# q_anf: auto sign-bucket width, quantized-integer L2, mutual filter)
_KNN_MU_SQL = """
    nb AS (
      SELECT CASE WHEN COUNT(*) <= 1024 THEN 1
             ELSE LEAST(16, GREATEST(1, CAST(CEIL(LOG2(COUNT(*) / 1024.0))
                                             AS INT))) END AS b
      FROM embeddings),
    q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 4096)
                                      AS BIGINT)) AS qa,
             list_transform(list_slice(embedding, 1, (SELECT b FROM nb)),
                            x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings),
    d AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_reduce(list_transform(list_zip(a.qa, b.qa),
                                        p -> (p[1] - p[2]) * (p[1] - p[2])),
                         (acc, x) -> acc + x) AS dist
      FROM q a JOIN q b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    r AS (SELECT src, dst,
                 row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rk
          FROM d),
    kn AS MATERIALIZED (SELECT src, dst FROM r WHERE rk <= 6),
    mu AS MATERIALIZED (
      SELECT a.src AS a, a.dst AS b
      FROM kn a JOIN kn b ON a.src = b.dst AND a.dst = b.src
      WHERE a.src < a.dst)"""

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_cte(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled peeling: e{r} keeps only edges whose BOTH endpoints had
    degree >= k in e{r-1} — the same fixed-round contract as
    operators/graph.kcore_membership."""
    parts = [
        "WITH "
        + _KNN_MU_SQL
        + """,
    e0 AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM mu UNION ALL SELECT b, a FROM mu)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    s{i} AS MATERIALIZED (
      SELECT src FROM (SELECT src, COUNT(*) AS deg FROM e{i - 1}
                       GROUP BY src)
      WHERE deg >= {k}),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN s{i} x ON e.src = x.src
      JOIN s{i} y ON e.dst = y.src)"""
        )
    return "".join(parts)


@register(
    "q_kcore",
    oracle=_kcore_cte()
    + f"""
    , fd AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
             FROM e{_KCORE_ROUNDS} GROUP BY src)
    SELECT e.vec_id,
           CAST(CASE WHEN fd.node IS NULL THEN 0 ELSE 1 END AS INT)
             AS in_core,
           COALESCE(fd.core_degree, CAST(0 AS BIGINT)) AS core_degree
    FROM embeddings e LEFT JOIN fd ON e.vec_id = fd.node
    """,
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership over the mutual-6-NN embedding graph
    (operators/graph.kcore_membership, k=3, 8 peeling rounds): the
    dense-subgraph backbone that flags template farms and spam
    clusters a degree or triangle count understates. Each peel is one
    degree aggregation + two semi-joins on the (only-shrinking)
    surviving edge set."""
    from oic_options_chains_spark.operators.graph import (
        bucketed_knn_edges,
        kcore_membership,
        mutual_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    edges = mutual_edges(
        bucketed_knn_edges(emb, k=6, broadcast_candidates=True)
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return kcore_membership(
        emb.select(F.col("vec_id").alias("node")),
        edges,
        k=_KCORE_K,
        rounds=_KCORE_ROUNDS,
    ).select(F.col("node").alias("vec_id"), "in_core", "core_degree")
