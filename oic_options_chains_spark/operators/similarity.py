"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one broadcast of the query vector, one
scan, one top-k; correct at any scale but O(n) per query.

Scale path: IVF-style sign-bucket partition pruning — vectors are assigned
a coarse bucket from the sign bits of their leading dimensions; a query
only scans its own bucket (1/2^b of the data for b bits). The bucket column
is a plain string, so at 100 TB the table can be partitioned/bucketed by it
and the probe becomes a partition-pruned scan.

Determinism: elements are widened float->double (exact), the dot product is
a left fold in array order (identical IEEE operation order in any engine),
and reported scores are floor(1e6 * cosine).
"""

from __future__ import annotations

import math
import weakref

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Expected rows per sign bucket the planner aims for when deriving bits
# from corpus size: small enough that a within-bucket self-join is one
# executor's work, large enough that boundary recall loss stays low.
DEFAULT_TARGET_BUCKET_ROWS = 1024


def bits_for(
    n_rows: int,
    target_bucket_rows: int = DEFAULT_TARGET_BUCKET_ROWS,
    max_bits: int = 16,
) -> int:
    """Sign-bucket bits so the EXPECTED bucket holds ~``target_bucket_rows``
    vectors: ceil(log2(n / target)).

    A fixed bit count is a scale bug: with b bits the within-bucket
    self-join is O((n/2^b)^2) per bucket, so b must grow with log2(n) to
    keep buckets executor-sized. ``max_bits`` caps the bucket key at
    2^16 partitions (and at the vector dimensionality implicitly — the
    bucket uses the leading ``bits`` dims' signs)."""
    if n_rows <= target_bucket_rows:
        return 1
    return min(max_bits, max(1, math.ceil(math.log2(n_rows / target_bucket_rows))))


def banded_recall_bp(
    threshold: float,
    n_tables: int,
    bits_per_table: int = 8,
    dispersion: bool = True,
) -> float:
    """Expected planted-pair recall, in basis points, of an (L, b)
    banded hyperplane screen at cosine ``threshold``.

    ``dispersion=False`` is the textbook closed form 1 - (1 - p^b)^L
    with per-plane agreement p = 1 - arccos(c)/pi. For a FIXED pair,
    agreement indicators across iid-drawn planes are iid Bernoulli(p),
    so the closed form is the TRUE expectation over plane families —
    Monte-Carlo-pinned in tests/test_round14_dispersion.py (400
    families x 2000 pairs at the 0.8 contract: mean 9487 bp vs closed
    9482, family-to-family std only ~48 bp). The r13/r14 ledgers'
    earlier reading of the planted_c80 deficit as a systematic
    fixed-plane-set loss is corrected there (SCALING.md round-14
    addendum): the deficit is finite-PROBE sampling noise — a <= 256
    planted-pair measurement has binomial std ~150 bp, and all three
    measured contract rows sit within ~2 such sigma of the closed form.

    ``dispersion=True`` (the solver's default input since round 14) is
    therefore NOT a better estimate of the mean — it is a deliberately
    CONSERVATIVE lower curve: the binomial plug-in
    E[1 - (1 - (K/n)^b)^L], K ~ Binomial(n=L*b, p), which Jensen
    pushes strictly below the closed form by roughly one probe-sigma
    at the shipped contracts (9281 vs 9482 at 0.8/L=17). Solving L
    against it means the promised floor survives a ~1-sigma-low
    realized probe draw before the explicit residual margin is even
    touched — the right direction for a >= floor contract, bought with
    0-2 extra tables."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    p = 1.0 - math.acos(threshold) / math.pi
    closed = (1.0 - (1.0 - p**bits_per_table) ** n_tables) * 10_000.0
    if not dispersion or p >= 1.0 or p <= 0.0:
        return closed
    n = n_tables * bits_per_table
    lg, log, exp = math.lgamma, math.log, math.exp
    total = 0.0
    for k in range(n + 1):
        w = exp(
            lg(n + 1) - lg(k + 1) - lg(n - k + 1)
            + k * log(p)
            + (n - k) * log(1.0 - p)
        )
        ph = k / n
        total += w * (1.0 - (1.0 - ph**bits_per_table) ** n_tables)
    return total * 10_000.0


def tables_for(
    threshold: float,
    target_recall_bp: int = 9000,
    bits_per_table: int = 8,
    max_tables: int = 256,
    dispersion: bool = False,
) -> int:
    """Minimal banded-LSH table count L so a pair AT cosine
    ``threshold`` is recovered with probability >= ``target_recall_bp``
    basis points — the inverse of the recall S-curve
    1 - (1 - p^b)^L with per-plane agreement p = 1 - arccos(c)/pi
    (``dispersion=False``, the closed form — the true mean over plane
    families), or of the deliberately conservative binomial plug-in
    curve :func:`banded_recall_bp` computes (``dispersion=True`` —
    what :func:`cross_near_pairs_banded`'s default path solves against
    since round 14; see that docstring for why conservative, not
    corrected, is the right word).

    This makes the round-12 recall contract PROGRAMMABLE instead of a
    hardcoded default: ``tables_for(0.7)`` = 23 (the closed-form
    minimum; :func:`cross_near_pairs_banded` defaults resolve to 28 via
    the dispersed curve + residual margin), and a deployment screening
    at a different threshold derives its own L the same way. The
    boundary is the WORST case of the promised region — recall is
    monotone in cosine above it — so L from here bounds the whole
    cos >= threshold family. Raising L multiplies key-generation and
    bucket-lookup cost linearly but barely moves the false-candidate
    rate (a random pair agrees on a table with p ~ 2^-b), which is why
    tuning L, not b, is the recall lever.

    Raises ValueError when no L <= ``max_tables`` reaches the target
    (threshold too low for the band width — at that point the honest
    answer is an exact or dense screen, not more tables)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0 < target_recall_bp < 10_000:
        raise ValueError(
            f"target_recall_bp must be in (0, 10000), got {target_recall_bp}"
        )
    p = 1.0 - math.acos(threshold) / math.pi
    miss_per_table = 1.0 - p**bits_per_table
    if miss_per_table <= 0.0:
        return 1
    if dispersion:
        # no closed-form inverse of the binomial expectation — linear
        # scan (max_tables * L * b lgamma evals worst case, trivial)
        for n in range(1, max_tables + 1):
            if banded_recall_bp(threshold, n, bits_per_table) >= target_recall_bp:
                return n
        raise ValueError(
            f"no L <= {max_tables} reaches {target_recall_bp} bp at "
            f"cos {threshold} with b={bits_per_table} under the dispersed "
            "curve — use an exact or dense screen for sub-threshold "
            "pairs instead of more tables"
        )
    target_miss = 1.0 - target_recall_bp / 10_000.0
    n = math.ceil(math.log(target_miss) / math.log(miss_per_table))
    if n > max_tables:
        raise ValueError(
            f"no L <= {max_tables} reaches {target_recall_bp} bp at "
            f"cos {threshold} with b={bits_per_table}: the S-curve is too "
            "flat there — use an exact or dense screen for sub-threshold "
            "pairs instead of more tables"
        )
    return max(1, n)


# bits resolved per DataFrame object, so repeated calls on the same input
# (e.g. near_dup_pairs then batch_topk_ivf over one embeddings table) pay
# the sizing count() once. Weak keys: entries die with the DataFrame.
_BITS_CACHE: weakref.WeakKeyDictionary[DataFrame, int] = weakref.WeakKeyDictionary()


def _resolve_bits(embeddings: DataFrame, bits: int | None) -> int:
    """Derive bits from the corpus size when not pinned by the caller.

    For a bare parquet scan the ``count()`` is metadata-only (row counts
    come from footers); any upstream filter/join/projection makes it a
    real extra job, so callers on derived inputs — or needing a
    deterministic plan for an oracle — should pass ``bits`` explicitly.
    The resolved value is cached per DataFrame object, so only the first
    call on a given input pays the count."""
    if bits is not None:
        return bits
    cached = _BITS_CACHE.get(embeddings)
    if cached is None:
        cached = bits_for(embeddings.count())
        _BITS_CACHE[embeddings] = cached
    return cached


def _probe_partitions(df: DataFrame) -> int:
    """Partition count for the hash-repartitioned probe side. Some
    runtimes resolve spark.sql.shuffle.partitions to a non-integer
    (e.g. "auto" under vendor AQE) — fall back to defaultParallelism
    instead of raising."""
    spark = df.sparkSession
    raw = spark.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        return int(raw)
    except ValueError:
        return spark.sparkContext.defaultParallelism


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product with float->double widening."""
    return _fold_sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def dot_pre(a: Column, b: Column) -> Column:
    """Dot over arrays ALREADY cast to double (``_pair_prep``): the same
    IEEE multiply/accumulate sequence as ``dot``, minus two casts per
    element per pair. On bucket self-joins the fold runs once per
    CANDIDATE PAIR (n_pairs >> n_rows), so hoisting the casts to the
    per-vector prep measurably cuts the dominant loop. (A flat
    ``a[0]*b[0]+...`` expression string was measured SLOWER here: at
    dim=64 it trips the codegen huge-method fallback and the whole
    stage goes interpreted.)"""
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def _pair_prep(
    embeddings: DataFrame, id_col: str, vec_col: str, bits: int
) -> DataFrame:
    """(id, __v, __n, __b): per-vector prep for bucket self-join scoring.

    The double-cast vector, its norm, and the coarse bucket are computed
    once per VECTOR so the per-pair work is a single ``dot_pre`` fold
    plus one divide; the raw float vector is dropped to halve the join
    payload."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return embeddings.select(
        F.col(id_col),
        v.alias("__v"),
        norm(F.col(vec_col)).alias("__n"),
        sign_bucket(F.col(vec_col), bits).alias("__b"),
    )


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """Coarse IVF bucket: concatenated sign bits of the first ``bits`` dims."""
    parts = [
        F.when(F.element_at(vec, i + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return F.concat(*parts)


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-bucket-pruned.

    Candidate generation is a self-equi-join on the coarse sign bucket
    (id_a < id_b to emit each pair once) — never the O(n^2) cross join.
    ``bits`` defaults to ``bits_for(count)`` so buckets stay
    executor-sized as the corpus grows (each added bit halves expected
    bucket size); recall loss only affects pairs whose cosine is low
    anyway, since near-identical vectors share leading sign bits.
    Returns (id_a, id_b, score_e6).

    ``broadcast_candidates=False`` (default) is the scale-safe
    bucket-keyed shuffle join — never O(n^2), never an unbounded
    broadcast. At bench scale (corpus fits one executor's memory), pass
    ``True``: the candidate side broadcasts and the probe side
    hash-repartitions with an explicit partition count, because the
    interpreted-fold cosine is CPU-dense at tiny byte sizes, so probe
    parallelism must come from an exchange AQE cannot coalesce away,
    not from the scan's file-split count (one compact parquet file =
    one core otherwise; measured 4x slower at sf0.1 on the sibling
    ``hard_negatives``). The opt-in direction is deliberate: broadcast
    is the optimization you prove fits memory, not the default you
    discover OOMs at 100 TB.
    """
    bits = _resolve_bits(embeddings, bits)
    # norms and double-cast vectors precomputed per VECTOR (n rows), not
    # per pair: the per-pair work drops to one dot-product fold;
    # dot/(na*nb) is bit-identical to computing both norms inside the pair.
    b = _pair_prep(embeddings, id_col, vec_col, bits)
    if broadcast_candidates:
        a = b.repartition(_probe_partitions(embeddings), F.col(id_col)).alias("a")
        c = F.broadcast(b).alias("c")
    else:
        a, c = b.alias("a"), b.alias("c")
    cos = dot_pre(F.col("a.__v"), F.col("c.__v")) / (
        F.col("a.__n") * F.col("c.__n")
    )
    return (
        a.join(
            c,
            (F.col(f"a.__b") == F.col(f"c.__b"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            cos.alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.floor(F.lit(1e6) * F.col("__cos")).cast("bigint").alias("score_e6"),
        )
    )


def cross_near_pairs(
    probe: DataFrame,
    reference: DataFrame,
    threshold: float = 0.35,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bipartite near-pairs: every (probe, reference) pair above the
    cosine threshold, sign-bucket-pruned — the semantic-decontamination
    shape (train vs eval/benchmark embeddings). Unlike
    :func:`near_dup_pairs` this NEVER self-pairs the probe side: the
    probe corpus (the 100 TB side) is only ever bucket-joined against
    the reference (the small side), so the candidate count is bounded by
    the reference's bucket occupancy, exactly like the incremental
    delta-vs-base LSH (operators/minhash.incremental). ``bits`` defaults
    from the PROBE count — the side that drives bucket sizing. Returns
    (id_a = probe id, id_b = reference id, score_e6)."""
    bits = _resolve_bits(probe, bits)
    a = _pair_prep(probe, id_col, vec_col, bits).alias("a")
    c = _pair_prep(reference, id_col, vec_col, bits).alias("c")
    cos = dot_pre(F.col("a.__v"), F.col("c.__v")) / (
        F.col("a.__n") * F.col("c.__n")
    )
    return (
        a.join(c, F.col("a.__b") == F.col("c.__b"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            cos.alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.floor(F.lit(1e6) * F.col("__cos")).cast("bigint").alias("score_e6"),
        )
    )


def _hp_sign_py(i: int, k: int) -> int:
    """±1 hyperplane-matrix entry from md5("hp:i:k") parity — the same
    regenerate-anywhere convention as the JL matrix
    (operators/projection._sign_py), in its own "hp:" namespace so
    composing this with a JL projection never reuses planes."""
    import hashlib

    h = int(hashlib.md5(f"hp:{i}:{k}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def hyperplane_keys_expr(
    vec: Column, n_tables: int, bits_per_table: int, in_dim: int
) -> Column:
    """array<bigint> of ``n_tables`` packed hyperplane-sign keys for one
    vector — the oracle-replayable expression tier.

    Plane k = t * bits_per_table + j is the md5-parity ±1 row
    ``_hp_sign_py(·, k)``; bit j of table t's key is 1 iff the
    QUANTIZED dot (floor(x*4096), the repo-wide integer convention)
    with that row is >= 0. All arithmetic is exact integers, so any
    engine regenerating the matrix from the formula computes identical
    keys. The sign matrix inlines as driver-side literals (the
    jl_project lesson: per-row md5 costs 1000x the multiply-adds it
    gates)."""
    from oic_options_chains_spark.operators.projection import quantized

    q = quantized(vec)
    keys = []
    for t in range(n_tables):
        key = None
        for j in range(bits_per_table):
            k = t * bits_per_table + j
            signs = F.array(
                *[F.lit(_hp_sign_py(i, k)).cast("bigint") for i in range(in_dim)]
            )
            d = F.aggregate(
                F.zip_with(q, signs, lambda x, s: x * s),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            term = F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("bigint")
            key = term if key is None else key + term
        keys.append(key)
    return F.array(*keys)


def _hyperplane_keys_kernel(
    df: DataFrame,
    vec_col: str,
    n_tables: int,
    bits_per_table: int,
    in_dim: int,
) -> DataFrame:
    """All input columns plus ``__keys`` (array<bigint>, length
    ``n_tables``) — the Arrow-batched twin of :func:`hyperplane_keys_expr`
    for wide table sets, bit-identical by construction: the quantized
    dot is an int64 matmul (exact in range: |q_i| <= 4096 * |x|, dim
    * 4096^2 << 2^63) and bit j is ``dot >= 0``, the same predicate.
    The L*b*d multiply-adds per row run once per Arrow BATCH in BLAS
    instead of L*b interpreted JVM folds (higher-order functions never
    reach codegen — the kmeans large-k lesson)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    planes = n_tables * bits_per_table
    smat = np.array(
        [[_hp_sign_py(i, k) for k in range(planes)] for i in range(in_dim)],
        dtype=np.int64,
    )  # d x (L*b)
    weights = np.array(
        [1 << j for j in range(bits_per_table)], dtype=np.int64
    )
    schema = StructType(
        list(df.schema.fields) + [StructField("__keys", ArrayType(LongType()))]
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue  # an empty frame would carry no dtypes
            q = np.floor(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * 4096
            ).astype(np.int64)
            bits = (q @ smat) >= 0  # rows x (L*b)
            keys = (
                bits.reshape(len(pdf), n_tables, bits_per_table) * weights
            ).sum(axis=2)
            yield pdf.assign(__keys=list(keys))

    return df.mapInPandas(kernel, schema)


# past this many planes the interpreted per-row fold chain dominates;
# the Arrow matmul kernel takes over (both tiers bit-identical, so the
# threshold is a pure cost knob)
KERNEL_MIN_PLANES = 48


def cross_near_pairs_banded(
    probe: DataFrame,
    reference: DataFrame,
    threshold: float = 0.35,
    n_tables: int | None = None,
    bits_per_table: int = 8,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_reference: bool = True,
    use_kernel: bool | None = None,
    contract_cos: float = 0.7,
    target_recall_bp: int = 9000,
    recall_margin_bp: int = 250,
) -> DataFrame:
    """Bipartite cosine near-pairs with BANDED hyperplane LSH — the
    OR-amplified scale path of :func:`cross_near_pairs`.

    A single sign-bucket equi-join prunes by AND over all its bits, so
    its recall decays exponentially in ``bits``: measured on this
    corpus, the pinned 4-bit screen finds ~15% of true cos>=0.35 pairs
    and the bits_for(n) scaled form collapses to ~5% at sf2
    (SCALE_CURVE recall_bp:pair_recall). Banding is the cosine analog
    of MinHash banding: ``n_tables`` independent
    ``bits_per_table``-bit hyperplane keys per vector; a pair is a
    candidate when ANY table agrees, then exact cosine verifies. With
    per-plane agreement p = 1 - theta/pi, pair recall is the S-curve
    1 - (1 - p^b)^L — near-0 for unrelated vectors, near-1 for the
    high-cosine pairs contamination screening exists to catch (exact
    duplicates agree on every plane, so they are NEVER lost), tunable
    at the threshold by (L, b).

    RECALL CONTRACT (round 12, parameterized round 13,
    dispersion-corrected round 14): when ``n_tables`` is None (the
    default path), L is SOLVED from the contract instead of hardcoded —
    ``tables_for(contract_cos, target_recall_bp + recall_margin_bp,
    bits_per_table, dispersion=True)`` — so a deployment screening at
    a different near-dup threshold states ``contract_cos=0.8`` (or
    0.6, ...) and gets the minimal table count for the same
    >= ``target_recall_bp`` promise automatically (0.8 -> L=17,
    0.6 -> L=45 at b=8). The solve runs against the CONSERVATIVE
    binomial plug-in curve (:func:`banded_recall_bp` — see its
    docstring and the SCALING.md round-14 addendum for the
    Monte-Carlo adjudication): the closed form is the true mean over
    plane families, but the CONTRACT is verified by a <= 256
    planted-pair probe whose binomial sampling noise is ~150 bp (1
    sigma) — the entire measured planted_c80 deficit (9250 vs closed
    9482; NumPy-replayed exactly in r13; embedding quantization moves
    effective cosine < 2e-4, NOT a factor) is ~1.5 such sigma, not a
    systematic plane-family loss (family-to-family std is only
    ~48 bp). Solving against the plug-in curve — which Jensen pushes
    ~one probe-sigma below the mean — plus the explicit
    ``recall_margin_bp`` (400 -> 250 since the curve itself now
    carries a sigma of conservatism) means the floor survives a
    ~2.5-sigma-low probe draw in total. The operational rule stands: a
    deployment stating a NEW contract_cos measures a planted-probe row
    at that boundary (the q_decontam_t08/t06 pattern — bench_curve's
    parameterized _recall_decontam_planted) rather than trusting any
    theory point. At the defaults (contract_cos=0.7, 9000+250 bp) the
    conservative solver resolves to L=28 x b=8 — bit-identical to the
    round-12 hardcoded default and its recorded curves, as are the 0.8
    contract's 17 and 0.6's 45 (the solve-curve re-derivation moved no
    shipped contract). The promise, restated: >= 9000 bp pair recall
    at cos >= contract_cos — measured on 256 planted pairs AT the 0.7
    boundary (the worst case of the promised region; recall is
    monotone above it):
    9400-9414 bp planted at 0.7 across sf0.1-2, 10000 bp at 0.9, vs
    theory 9418/9999 bp (SCALE_CURVE recall_bp:planted_c70/_c90 on
    q_decontam_banded). Below the promised threshold the S-curve
    tapers by design (planted 0.5 measures ~6100 bp; borderline
    cos-0.35 corpus pairs ~4900-5400 bp) — those pairs are OUT of
    contract: they are not near-duplicate contamination, and catching
    them requires an exact or dense screen, not more tables (L=12 was
    the round-11 default; the move to 28 bought 0.7-boundary recall
    7000 -> 9400 bp for a measured 1.4x cost — 1.19 -> 1.64 s on the
    sf0.1 decontam query, same session best-of-3; SCALING.md).

    100 TB shape: the reference (benchmark/eval) side is small and
    fixed-size in real decontamination, so it is broadcast
    (``broadcast_reference``) and the probe side is never shuffled —
    per-probe-row cost is L key lookups + the verifies its buckets
    admit, linear in the probe corpus. Emit-once via first-matching-
    table (the aHash first-band pattern), so no candidate-wide
    distinct. Key generation routes through an Arrow int64-matmul
    kernel past ``KERNEL_MIN_PLANES`` (bit-identical to the
    expression tier; property-tested).

    Returns (id_a = probe id, id_b = reference id, score_e6). NULL
    vectors never pair (dropped on both sides)."""
    if n_tables is None:
        n_tables = tables_for(
            contract_cos,
            min(9999, target_recall_bp + recall_margin_bp),
            bits_per_table,
            dispersion=True,
        )
    if use_kernel is None:
        use_kernel = n_tables * bits_per_table >= KERNEL_MIN_PLANES

    def prep(df: DataFrame) -> DataFrame:
        base = df.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col)
        if use_kernel:
            keyed = _hyperplane_keys_kernel(
                base, vec_col, n_tables, bits_per_table, in_dim
            )
        else:
            keyed = base.withColumn(
                "__keys",
                hyperplane_keys_expr(
                    F.col(vec_col), n_tables, bits_per_table, in_dim
                ),
            )
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        return keyed.select(
            F.col(id_col),
            v.alias("__v"),
            F.sqrt(_fold_sum(F.transform(v, lambda x: x * x))).alias("__n"),
            "__keys",
        ).select(
            id_col,
            "__v",
            "__n",
            "__keys",
            F.posexplode("__keys").alias("__t", "__key"),
        )

    a = prep(probe).alias("a")
    c = prep(reference)
    c = (F.broadcast(c) if broadcast_reference else c).alias("c")
    earlier = None
    for tp in range(n_tables - 1):
        m = (F.col("a.__t") > tp) & (
            F.element_at(F.col("a.__keys"), tp + 1)
            == F.element_at(F.col("c.__keys"), tp + 1)
        )
        earlier = m if earlier is None else earlier | m
    cand = a.join(
        c,
        (F.col("a.__t") == F.col("c.__t")) & (F.col("a.__key") == F.col("c.__key")),
    )
    if earlier is not None:
        cand = cand.filter(~earlier)
    cos = dot_pre(F.col("a.__v"), F.col("c.__v")) / (
        F.col("a.__n") * F.col("c.__n")
    )
    return (
        cand.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            cos.alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.floor(F.lit(1e6) * F.col("__cos")).cast("bigint").alias("score_e6"),
        )
    )


def probe_buckets(vec: Column, bits: int = 4) -> Column:
    """Multi-probe bucket set: the exact sign bucket plus each one-bit
    flip — the IVF trick that recovers most recall lost to boundary
    vectors while still scanning only (bits+1)/2^bits of the data."""
    exact = sign_bucket(vec, bits)
    probes = [exact]
    for i in range(bits):
        flipped = F.concat(
            F.substring(exact, 1, i),
            F.translate(F.substring(exact, i + 1, 1), "01", "10"),
            F.substring(exact, i + 2, bits - i - 1),
        )
        probes.append(flipped)
    return F.array(*probes)


def _topk_per_query(
    scored: DataFrame, k: int, id_col: str, query_id_col: str
) -> DataFrame:
    """(query_id_col, id_col, score_e6, rank): the ``k`` best ``__cos``
    rows of each query, ties to the lowest id. Plans as a query-keyed
    WindowGroupLimit (Partial per corpus partition, one exchange, Final)
    — per-query state is k rows, never the score matrix. A one-query
    relation whose id is a LITERAL loses the foldable partition key in
    the optimizer and plans as TakeOrderedAndProject (per-partition
    top-k, k-sized merge) with the rank window over the k survivors."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.floor(F.lit(1e6) * F.col("__cos")).cast("bigint").alias("score_e6"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k per QUERY for a whole batch of query vectors — the shape
    retrieval actually takes in a training pipeline (hard-negative
    mining, nearest-neighbor eval): thousands of queries against the
    corpus in one plan, not one broadcast per query.

    The query batch is broadcast (queries are the small side by
    definition here); every corpus partition scores all queries locally,
    then the per-query top-k (``_topk_per_query``) keeps k rows per
    query. A single query is a one-row batch. At larger
    query batches the same plan degrades gracefully: the broadcast is
    the only piece to revisit (swap for an IVF bucket join when the
    batch itself stops fitting in memory).

    Returns (query_id_col, id_col, score_e6, rank).
    """
    scored = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("__cos"),
    )
    return _topk_per_query(scored, k, id_col, query_id_col)


def batch_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Bucket-pruned batched retrieval — batch_topk's 100 TB form: both
    sides get a sign bucket and candidates come from a bucket EQUI-JOIN,
    so each corpus row is scored only against queries sharing its coarse
    bucket (~n_queries/2^bits instead of all of them), and the join key
    is the bucket — the corpus never shuffles when the query side
    broadcasts. Recall matches single-probe IVF per query;
    ``batch_topk_multiprobe`` adds neighbor-bucket probe expansion when
    recall needs the extra buckets.

    Returns (query_id_col, id_col, score_e6, rank).
    """
    bits = _resolve_bits(embeddings, bits)
    eb = embeddings.withColumn("__bucket", sign_bucket(F.col(vec_col), bits))
    qb = queries.withColumn(
        "__bucket", sign_bucket(F.col(query_vec_col), bits)
    )
    cand = eb.join(F.broadcast(qb), "__bucket")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("__cos"),
    )
    return _topk_per_query(scored, k, id_col, query_id_col)


def hard_negatives(
    embeddings: DataFrame,
    k: int = 4,
    max_score_e6: int = 950_000,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Deterministic hard-negative mining for contrastive training: for
    every anchor vector, the k most-similar OTHER vectors from its own
    sign bucket whose cosine stays below ``max_score_e6`` (near-identical
    vectors above the ceiling are presumed duplicates/positives, not
    negatives).

    Same candidate topology as ``near_dup_pairs`` — a self-equi-join on
    the coarse sign bucket, so candidates are exactly the vectors hard
    negatives should come from (similar region, different item). Per-
    anchor selection is one WindowGroupLimit (running top-k, score desc,
    candidate id as the deterministic tie-break). Returns (id_col,
    neg_id, score_e6, slot) with slot = 1..k.

    ``broadcast_candidates=False`` (default) is the scale-safe
    bucket-keyed shuffle join (never O(n^2); the per-anchor window then
    re-exchanges pairs). At bench scale, pass ``True``: the candidate
    side pins as the broadcast build and the ANCHOR side
    hash-repartitions on ``id_col`` with an explicit partition count.
    Both halves matter: the probe's parallelism must come from the
    exchange, not the scan's file-split count (a compact embeddings
    table reads as ONE input partition, which would run every
    interpreted-fold cosine on a single core — measured 4x slower at
    sf0.1), and the explicit count stops AQE coalescing the
    few-megabyte-but-CPU-heavy exchange back to one task. The same
    partitioning then feeds the per-anchor window for free — the PAIRS
    relation (the big intermediate) never shuffles. Broadcast is the
    optimization you prove fits executor memory, never the default.
    """
    bits = _resolve_bits(embeddings, bits)
    b = _pair_prep(embeddings, id_col, vec_col, bits)
    if broadcast_candidates:
        a = b.repartition(_probe_partitions(embeddings), F.col(id_col)).alias("a")
        c = F.broadcast(b).alias("c")
    else:
        a, c = b.alias("a"), b.alias("c")
    cos = dot_pre(F.col("a.__v"), F.col("c.__v")) / (
        F.col("a.__n") * F.col("c.__n")
    )
    scored = (
        a.join(
            c,
            (F.col("a.__b") == F.col("c.__b"))
            & (F.col(f"a.{id_col}") != F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(id_col),
            F.col(f"c.{id_col}").alias("neg_id"),
            F.floor(F.lit(1e6) * cos).cast("bigint").alias("score_e6"),
        )
        .filter(F.col("score_e6") < max_score_e6)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_e6").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= k)
        .select(id_col, "neg_id", "score_e6", F.col("slot").cast("int").alias("slot"))
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate retrieval against the exact one, per
    query: (query_id, k_exact, n_hits, recall_bp) — THE acceptance
    metric for every ANN shortcut here (sign-bucket IVF, multiprobe,
    IVF-PQ): how much of the true top-k the pruned search kept. Both
    inputs are (query_id, id, ...) rankings; recall is the fraction of
    exact ids the approximate result recovered, floor-scaled to basis
    points (integer division — engine-exact).

    Scale: both inputs are already k-rows-per-query relations (the
    retrieval operators' outputs), so the eval itself is queries x k
    sized. The exact side — usually the expensive corpus-wide retrieval
    — is READ ONCE: one left join marks hits, one aggregate counts both
    k_exact and n_hits (two branches + a rejoin would execute the exact
    retrieval's lineage twice unless exchange reuse happened to save
    it)."""
    marked = exact.select(query_id_col, id_col).join(
        approx.select(query_id_col, id_col).withColumn("__hit", F.lit(1)),
        [query_id_col, id_col],
        "left",
    )
    return (
        marked.groupBy(query_id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
        .selectExpr(
            query_id_col,
            "k_exact",
            "n_hits",
            "CAST(10000 * n_hits div k_exact AS BIGINT) AS recall_bp",
        )
    )


def batch_topk_multiprobe(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """``batch_topk_ivf`` with one-bit probe expansion: each query
    probes its exact sign bucket plus every Hamming-1 neighbor
    (``probe_buckets``), recovering most of the recall single-probe
    loses to boundary vectors at (bits+1)/2^bits scan cost. The probe
    list explodes on the (broadcast) query side and the corpus join
    stays a bucket equi-join; no dedup is needed because a corpus row's
    single sign bucket can match at most one of a query's
    pairwise-distinct probes.

    Returns (query_id_col, id_col, score_e6, rank)."""
    bits = _resolve_bits(embeddings, bits)
    eb = embeddings.withColumn("__bucket", sign_bucket(F.col(vec_col), bits))
    qb = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.explode(probe_buckets(F.col(query_vec_col), bits)).alias("__bucket"),
    )
    scored = eb.join(F.broadcast(qb), "__bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("__cos"),
    )
    return _topk_per_query(scored, k, id_col, query_id_col)


def token_vectors(
    df: DataFrame,
    n_sub: int,
    vec_col: str = "embedding",
    pos_col: str = "tpos",
    out_col: str = "tvec",
) -> DataFrame:
    """Late-interaction view of a single-vector table: split each
    embedding into ``n_sub`` contiguous sub-vectors ("token embeddings"
    in ColBERT terms — here carved from the stored vector, since the
    corpus stores one pooled vector per item). Row-local (explode only,
    no shuffle); output has n_sub× the rows and 1/n_sub the floats per
    row, so bytes scanned per vector are unchanged."""
    sub_len = (F.size(F.col(vec_col)) / n_sub).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda i: F.slice(F.col(vec_col), i * sub_len + 1, sub_len),
    )
    return df.select(
        *[c for c in df.columns if c != vec_col],
        F.posexplode(slices).alias(pos_col, out_col),
    )


def maxsim_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_sub: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ColBERT-style MaxSim late-interaction retrieval (Khattab &
    Zaharia, SIGIR 2020): score(q, d) = Σ_{query token} max_{doc token}
    ⟨q_token, d_token⟩, then top-``k`` docs per query.

    Late interaction beats single-dot retrieval when different parts of
    a query match different parts of a document; at 100 TB the shape is
    the thing: the corpus side explodes row-locally into token vectors
    (ONE scan, no shuffle), the query token table (|Q|·n_sub rows)
    broadcasts, each (doc token × query token) dot is quantized to
    floor(1e6·dot) BIGINT immediately — so the max-then-sum reduction is
    exact integer arithmetic, engine-independent — and the whole
    reduction is one map-side-combinable aggregate keyed on
    (query, doc). Top-k per query is a WindowGroupLimit, never a global
    sort.

    Returns (query_id, id, score_e6, rank).
    """
    dt = token_vectors(
        embeddings.select(id_col, vec_col), n_sub, vec_col=vec_col,
        pos_col="dpos", out_col="dvec",
    )
    qt = token_vectors(
        queries.select(query_id_col, query_vec_col), n_sub,
        vec_col=query_vec_col, pos_col="qpos", out_col="qvec",
    )
    pair = dt.crossJoin(F.broadcast(qt)).select(
        query_id_col,
        id_col,
        "qpos",
        F.floor(F.lit(1e6) * dot(F.col("dvec"), F.col("qvec")))
        .cast("bigint")
        .alias("__dot_e6"),
    )
    # max over doc tokens per query token, then sum over query tokens —
    # fused into ONE aggregate on (query, doc): each query token's max is
    # a null-skipping conditional max, so the whole MaxSim reduction is a
    # single map-side-combinable exchange (a naive groupBy-qpos-then-
    # groupBy plan pays two).
    qtok_maxes = [
        F.max(F.when(F.col("qpos") == i, F.col("__dot_e6"))) for i in range(n_sub)
    ]
    score = qtok_maxes[0]
    for m in qtok_maxes[1:]:
        score = score + m
    scored = pair.groupBy(query_id_col, id_col).agg(
        score.cast("bigint").alias("score_e6")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_e6").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "score_e6",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def mrr_of_true_nearest(
    exact: DataFrame,
    approx: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal rank of the TRUE nearest neighbor inside an
    approximate ranking, per query: (query_id, true_id, found_rank,
    rr_e6) with rr_e6 = floor(1e6 / rank) and 0 on a miss — the MRR
    companion to ann_recall (recall asks "how much of the top-k
    survived", MRR asks "where did the single right answer land").
    Exact rationals only (integer division), so both engines agree
    bit-for-bit; the mean over queries is one trivial downstream
    aggregate.

    Scale: both inputs are the retrieval operators' k-rows-per-query
    outputs; the eval is one queries-sized broadcast-able join."""
    true1 = exact.filter(F.col("rank") == 1).select(
        query_id_col, F.col(id_col).alias("true_id")
    )
    found = approx.select(
        query_id_col, F.col(id_col).alias("true_id"), F.col("rank").alias("__r")
    )
    return (
        true1.join(found, [query_id_col, "true_id"], "left")
        .select(
            query_id_col,
            "true_id",
            F.col("__r").cast("int").alias("found_rank"),
            F.coalesce(
                F.expr("CAST(1000000 div __r AS BIGINT)"), F.lit(0).cast("bigint")
            ).alias("rr_e6"),
        )
    )
