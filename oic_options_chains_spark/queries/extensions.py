"""Extension t2 queries: the large-scale training-data operators
(deduplication, similarity search, text analysis) over the ``documents``
and ``embeddings`` tables. These are first-class engine components for the
100 TB target (see operators/minhash.py, operators/similarity.py,
operators/text.py for the scale design notes).

Same cross-engine determinism rules as queries/core.py; additionally all
hashing is md5-based (portable), never engine-native hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.minhash import (
    doc_shingles,
    lsh_candidate_pairs,
    minhash_band_keys,
    minhash_signatures,
    ngram_jaccard_pairs,
    oph_signatures,
)
from oic_options_chains_spark.operators.similarity import (
    batch_topk,
    batch_topk_ivf,
    batch_topk_multiprobe,
    near_dup_pairs,
)
from oic_options_chains_spark.operators.text import (
    fingerprint,
    lang_id,
    lang_scores,
    quality_metrics,
    token_count_re,
    token_count_ws,
)
from oic_options_chains_spark.queries.registry import register
from oic_options_chains_spark.sources.registry import load_table

_SHINGLE_SQL = """
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 2, 0))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc_id,
                  t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
           FROM idx)
"""

_SIG_SQL = (
    "WITH "
    + _SHINGLE_SQL
    + """,
    seeds AS (SELECT unnest(range(0, 8)) AS seed),
    sig AS (
      SELECT doc_id, CAST(seed AS INT) AS seed,
             MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed)
"""
)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@register(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens_re
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace and regex word-piece tokenizers."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_tokens_ws"),
        token_count_re(F.col("text")).alias("n_tokens_re"),
    )


@register(
    "q_quality_score",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_tok,
                 len(list_filter(toks,
                     x -> list_contains(['the','a','of','and','or'], x))) AS n_stop,
                 list_sum(list_transform(toks, x -> length(x))) AS tok_chars
          FROM t)
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CAST(n_stop AS BIGINT) AS n_stopwords,
           CAST(tok_chars AS BIGINT) AS token_chars,
           CAST(FLOOR((CAST(10000 AS DOUBLE) * n_stop) / n_tok) AS BIGINT) AS stop_ratio_bp,
           CAST(FLOOR((CAST(1000 AS DOUBLE) * tok_chars) / n_tok) AS BIGINT) AS mean_token_len_e3
    FROM m
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: stopword ratio + token shape."""
    d = load_table(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    return d.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["n_stopwords"].alias("n_stopwords"),
        m["token_chars"].alias("token_chars"),
        m["stop_ratio_bp"].alias("stop_ratio_bp"),
        m["mean_token_len_e3"].alias("mean_token_len_e3"),
    )


@register(
    "q_lang_id",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\b(the|a|of)\b')) AS INT) AS article_score,
             CAST(len(regexp_extract_all(lower(text), '\b(data|table|row|query)\b')) AS INT) AS relational_score,
             CAST(len(regexp_extract_all(lower(text), '\b(fast|slow|big|small)\b')) AS INT) AS perf_score
      FROM documents)
    SELECT doc_id, article_score, relational_score, perf_score,
           CASE WHEN article_score >= relational_score AND article_score >= perf_score THEN 'article'
                WHEN relational_score >= perf_score THEN 'relational'
                ELSE 'perf' END AS lang_pred
    FROM s
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: argmax of vocabulary-family hit counts
    with fixed priority tie-break."""
    d = load_table(spark, sf_dir, "documents")
    s = lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        s["article"].alias("article_score"),
        s["relational"].alias("relational_score"),
        s["perf"].alias("perf_score"),
        lang_id(F.col("text")).alias("lang_pred"),
    )


@register(
    "q_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable document fingerprint (md5 of normalized text)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


# --------------------------------------------------------------------------
# Deterministic sampling / splits / corpus statistics
# --------------------------------------------------------------------------

# the Spark-side hash_bucket, verbatim in DuckDB: two md5 hex bytes -> int
_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 100"
)


@register(
    "q_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
                WHEN {_BUCKET_SQL} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from a content hash
    of the key — reproducible across engines, re-runs and repartitioning,
    unlike seeded df.sample()."""
    from oic_options_chains_spark.operators.sampling import split_assign

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", split_assign(F.col("doc_id")).alias("split"))


@register(
    "q_sample_hash",
    oracle=f"SELECT doc_id FROM documents WHERE {_BUCKET_SQL} < 10",
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample: a scan plus a codegen'd filter — no
    shuffle, and membership survives any repartitioning."""
    from oic_options_chains_spark.operators.sampling import sample_fraction

    d = load_table(spark, sf_dir, "documents")
    return sample_fraction(d, "doc_id", 10).select("doc_id")


@register(
    "q_sample_per_group",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 3
    """,
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 deterministic pseudo-random docs per language — WindowGroupLimit
    keeps it a running top-k, never a full-group materialization."""
    from oic_options_chains_spark.operators.sampling import sample_per_group

    d = load_table(spark, sf_dir, "documents")
    return sample_per_group(d, ["lang"], "doc_id", 3).select("lang", "doc_id")


@register(
    "q_length_histogram",
    oracle="""
    SELECT (length(text) // 100) * 100 AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM documents GROUP BY 1
    """,
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram (100-char buckets) — the quality-filter
    tuning view; one partial+final hash aggregate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.length("text") / 100) * 100).cast("bigint")
    return d.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("example_doc"),
    )


@register(
    "q_term_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents)
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS term_freq
    FROM tok GROUP BY term
    """,
)
def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary statistics: document frequency + total term frequency
    per term — the integer inputs TF-IDF weighting needs (the log itself
    stays engine-local: libm last-ulp drift makes cross-engine float
    hashing of log values unsound). One explode + one hash aggregate."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    return tok.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("doc_freq"),
        F.count(F.lit(1)).alias("term_freq"),
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle=r"""
    WITH f AS (
      SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
      FROM documents)
    SELECT fingerprint, CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS copies
    FROM f GROUP BY fingerprint
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint, keep the lowest id."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


@register("q_minhash_signature", oracle=_SIG_SQL + "SELECT doc_id, seed, minhash FROM sig")
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: 8 md5-permutation minima over 3-word shingles."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_signatures(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )


@register(
    "q_minhash_lsh_pairs",
    oracle=_SIG_SQL
    + """,
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY seed) AS band_key
      FROM sig GROUP BY doc_id, seed // 4)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    """,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: candidate near-dup pairs from shared band buckets.
    Uses the fused signature+banding path (one doc-keyed shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    bands = minhash_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    return lsh_candidate_pairs(bands, "doc_id")


# --- q_lsh_pairs_capped: QUEUED FOR r12 REGISTRATION ----------------------
# (registry held at 219 this round; cross-engine parity proven by
# tests/test_round11_lsh_cap_oracle.py). Makes the round-11 hot-bucket
# guard (lsh_candidate_pairs hot_bucket_cap) contract-checkable: the
# capped pair SET has a clean closed form — a pair qualifies iff it
# shares a bucket at-or-under the cap, OR shares >= 2 buckets (the hot
# tier's "must also agree on another band" condition) — which the oracle
# replays without mirroring the two-tier join plan.

_LSH_CAP = 2

LSH_PAIRS_CAPPED_ORACLE = (
    _SIG_SQL
    + f""",
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY seed) AS band_key
      FROM sig GROUP BY doc_id, seed // 4),
    bn AS (SELECT band, band_key, COUNT(*) AS n FROM bands GROUP BY 1, 2),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, bn.n
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
      JOIN bn ON bn.band = a.band AND bn.band_key = a.band_key)
    SELECT doc_a, doc_b FROM shared
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2 OR MIN(n) <= {_LSH_CAP}
"""
)


@register("q_lsh_pairs_capped", oracle=LSH_PAIRS_CAPPED_ORACLE)
def q_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-guarded LSH candidate pairs
    (lsh_candidate_pairs with hot_bucket_cap=_LSH_CAP — the oracle
    interpolates the same constant, so the two stay in sync by
    construction):
    buckets past the cap require a second shared band per pair — the
    quadratic-template guard with its S-curve tightening applied only
    to hot-bucket members (operators/minhash.py docstring spells out
    the probabilistic semantics; exact duplicates are never lost)."""
    d = load_table(spark, sf_dir, "documents")
    bands = minhash_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    return lsh_candidate_pairs(bands, "doc_id", hot_bucket_cap=_LSH_CAP)


@register(
    "q_edit_verify",
    oracle=_SIG_SQL
    + r""",
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY seed) AS band_key
      FROM sig GROUP BY doc_id, seed // 4),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
    nrm AS (SELECT doc_id,
                   regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
            FROM documents)
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(na.norm, nb.norm) AS BIGINT) AS edit_dist,
           CAST(FLOOR(10000.0 * levenshtein(na.norm, nb.norm)
                / greatest(length(na.norm), length(nb.norm))) AS BIGINT)
             AS dist_bp,
           CAST(CASE WHEN FLOOR(10000.0 * levenshtein(na.norm, nb.norm)
                     / greatest(length(na.norm), length(nb.norm))) <= 2000
                     THEN 1 ELSE 0 END AS INT) AS verified
    FROM pairs p
    JOIN nrm na ON p.doc_a = na.doc_id
    JOIN nrm nb ON p.doc_b = nb.doc_id
    """,
)
def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of LSH candidates — the exact-verify
    stage a dedup pipeline runs on the (small) candidate set, never on
    all pairs: Levenshtein over normalized text, scaled to basis points
    of the longer doc, verified at <= 20%. Levenshtein is the classic DP
    on both engines, so the distances agree exactly."""
    from oic_options_chains_spark.operators.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    bands = minhash_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    pairs = lsh_candidate_pairs(bands, "doc_id")
    nrm = d.select("doc_id", normalize_text(F.col("text")).alias("norm"))
    j = (
        pairs.join(
            nrm.select(
                F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a")
            ),
            "doc_a",
        )
        .join(
            nrm.select(
                F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b")
            ),
            "doc_b",
        )
    )
    lev = F.levenshtein(F.col("norm_a"), F.col("norm_b"))
    dist_bp = F.floor(
        F.lit(10000.0)
        * lev.cast("double")
        / F.greatest(F.length("norm_a"), F.length("norm_b")).cast("double")
    ).cast("bigint")
    return j.select(
        "doc_a",
        "doc_b",
        lev.cast("bigint").alias("edit_dist"),
        dist_bp.alias("dist_bp"),
        (dist_bp <= 2000).cast("int").alias("verified"),
    )


@register(
    "q_dedup_clusters",
    oracle="WITH RECURSIVE "
    + _SIG_SQL.removeprefix("WITH ")
    + """,
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY seed) AS band_key
      FROM sig GROUP BY doc_id, seed // 4),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
           FROM reach GROUP BY src)
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
           CAST(CASE WHEN d.doc_id = COALESCE(cc.cluster_id, d.doc_id)
                     THEN 1 ELSE 0 END AS INT) AS is_keeper
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup close-out: LSH candidate pairs -> connected components ->
    one keeper (min doc_id) per duplicate cluster, singletons kept. The
    Spark side is iterative min-label propagation (operators/clusters);
    the oracle is the same fixpoint as a recursive CTE."""
    from oic_options_chains_spark.operators.clusters import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    bands = minhash_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    # star edges, not the pair clique: identical components and keepers
    # (the oracle replays the clique's closure — same fixpoint), but a
    # crawl-scale exact-dup cluster costs N-1 edges instead of N^2/2
    from oic_options_chains_spark.operators.minhash import lsh_star_edges

    # star edges are distinct with doc_a (the hub min) < doc_b
    return dedup_clusters(
        d, lsh_star_edges(bands, "doc_id"), pairs_canonical=True
    )


@register(
    "q_ngram_jaccard",
    oracle="WITH "
    + _SHINGLE_SQL
    + """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT i.doc_a, i.doc_b, CAST(i.shared AS BIGINT) AS shared,
           CAST(FLOOR((CAST(10000 AS DOUBLE) * i.shared) / (sa.sz + sb.sz - i.shared)) AS BIGINT) AS jaccard_bp
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE FLOOR((CAST(10000 AS DOUBLE) * i.shared) / (sa.sz + sb.sz - i.shared)) >= 500
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    VERIFICATION-ONLY, not the default dedup path: a shingle appearing in
    f docs emits f^2 join rows on one reducer, and shingle frequency is
    Zipfian — use ``q_ngram_jaccard_capped`` (the headline entry) at
    scale."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(doc_shingles(d, "doc_id", "text"), "doc_id")


@register(
    "q_ngram_jaccard_capped",
    oracle="WITH "
    + _SHINGLE_SQL
    + """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    capped AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT i.doc_a, i.doc_b, CAST(i.shared AS BIGINT) AS shared,
           CAST(FLOOR((CAST(10000 AS DOUBLE) * i.shared) / (sa.sz + sb.sz - i.shared)) AS BIGINT) AS jaccard_bp
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE FLOOR((CAST(10000 AS DOUBLE) * i.shared) / (sa.sz + sb.sz - i.shared)) >= 500
    """,
)
def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped Jaccard (the 100 TB-safe form): stop-phrase shingles with
    document frequency > 50 are dropped from candidate generation — the
    Zipf head that turns f docs into f^2 join rows on one reducer — while
    similarity denominators still use full shingle sets."""
    from oic_options_chains_spark.operators.minhash import ngram_jaccard_pairs_capped

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_capped(
        doc_shingles(d, "doc_id", "text"), "doc_id", df_cap=50
    )


# 64-bit SimHash: word j of the signature takes 16 bit projections from
# md5 hex chars [4j+1, 4j+4] of each token (operators/minhash.doc_simhash).
_SIMHASH_SQL = """
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    bits AS (SELECT doc_id, w.wrd,
                    CAST(concat('0x', substr(md5(tok), 4 * w.wrd + 1, 4)) AS INT) AS tb
             FROM tok CROSS JOIN (SELECT unnest(range(0, 4)) AS wrd) w),
    votes AS (
      SELECT doc_id, wrd, b.bit,
             SUM(CASE WHEN (tb >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM bits CROSS JOIN (SELECT unnest(range(0, 16)) AS bit) b
      GROUP BY doc_id, wrd, b.bit),
    sim AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 AND wrd = 0 THEN 1 << bit ELSE 0 END) AS INT) AS w0,
             CAST(SUM(CASE WHEN v > 0 AND wrd = 1 THEN 1 << bit ELSE 0 END) AS INT) AS w1,
             CAST(SUM(CASE WHEN v > 0 AND wrd = 2 THEN 1 << bit ELSE 0 END) AS INT) AS w2,
             CAST(SUM(CASE WHEN v > 0 AND wrd = 3 THEN 1 << bit ELSE 0 END) AS INT) AS w3
      FROM votes GROUP BY doc_id)
"""


@register(
    "q_simhash",
    oracle="WITH " + _SIMHASH_SQL + "SELECT doc_id, w0, w1, w2, w3 FROM sim",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures as four 16-bit words (md5 bit
    projections, exact integer votes), in the relational one-shuffle
    form. The words double as the LSH band keys downstream."""
    from oic_options_chains_spark.operators.minhash import doc_simhash

    d = load_table(spark, sf_dir, "documents")
    return doc_simhash(d, "doc_id", "text")


@register(
    "q_simhash_pairs",
    oracle="WITH "
    + _SIMHASH_SQL
    + """,
    segs AS (
      SELECT doc_id, w0, w1, w2, w3, s.seg,
             CASE s.seg WHEN 0 THEN w0 WHEN 1 THEN w1
                        WHEN 2 THEN w2 ELSE w3 END AS key
      FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS seg) s),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
                + bit_count(xor(a.w2, b.w2)) + bit_count(xor(a.w3, b.w3))
                AS INT) AS hamming
      FROM segs a JOIN segs b
        ON a.seg = b.seg AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs: 4x16-bit word-bucket candidates
    (65,536 buckets per band), exact Hamming verify at distance <= 3 —
    recall is exact by pigeonhole. The doc-keyed aggregation exchange is
    computed once and reused by both self-join sides."""
    from oic_options_chains_spark.operators.minhash import (
        doc_simhash,
        simhash_near_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(doc_simhash(d, "doc_id", "text"), "doc_id")


@register(
    "q_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata (operators/multimodal.binary_meta): byte size
    + portable content hash, all JVM-side — the documents' text bytes stand
    in for a media blob column."""
    from oic_options_chains_spark.operators.multimodal import binary_meta

    d = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    meta = binary_meta(blob)
    return d.select(
        "doc_id",
        meta["n_bytes"].alias("n_bytes"),
        meta["content_md5"].alias("content_md5"),
    )


@register(
    "q_frame_manifest",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
    o AS (SELECT doc_id, n, unnest(range(0, n, 256)) AS off
          FROM b WHERE n > 0)
    SELECT doc_id,
           CAST(off // 256 AS INT) AS frame_idx,
           CAST(off AS BIGINT) AS byte_offset,
           CAST(least(256, n - off) AS BIGINT) AS chunk_len
    FROM o
    """,
)
def q_frame_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media chunk-scheduling manifest (operators/multimodal.frame_manifest):
    one row per 256-byte window of each blob, computed JVM-side without
    ever decoding — the planning step that lets a 100 TB pipeline filter
    and sample frames before any codec runs. Document text bytes stand in
    for media blobs."""
    from oic_options_chains_spark.operators.multimodal import frame_manifest

    d = load_table(spark, sf_dir, "documents")
    blobs = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("content"))
    return frame_manifest(blobs, id_col="doc_id")


@register(
    "q_dedup_embedding",
    oracle="""
    WITH b AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] > 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        list_reduce(list_transform(list_zip(a.embedding, c.embedding),
                                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                    (acc, x) -> acc + x)
        / (sqrt(list_reduce(list_transform(a.embedding,
                                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                            (acc, x) -> acc + x))
           * sqrt(list_reduce(list_transform(c.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                              (acc, x) -> acc + x))) AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
    SELECT id_a, id_b, CAST(FLOOR(1e6 * cos) AS BIGINT) AS score_e6
    FROM p WHERE cos >= 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-bucket LSH candidates, exact
    cosine verify at threshold 0.35."""
    e = load_table(spark, sf_dir, "embeddings")
    # broadcast opted IN here: the bench-scale corpus fits one executor
    # and the probe-side repartition is what parallelizes the CPU-dense
    # cosine folds (see near_dup_pairs docstring; default is the
    # scale-safe shuffle join)
    return near_dup_pairs(e, threshold=0.35, bits=4, broadcast_candidates=True)


@register(
    "q_corpus_filter",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
      FROM documents),
    keepers AS (
      SELECT fingerprint, MIN(doc_id) AS doc_id FROM f GROUP BY fingerprint),
    q AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tok,
             len(list_filter(string_split(lower(text), ' '),
                 x -> list_contains(['the','a','of','and','or'], x))) AS n_stop
      FROM documents),
    lang AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\b(the|a|of)\b')) AS INT) AS a_s,
             CAST(len(regexp_extract_all(lower(text), '\b(data|table|row|query)\b')) AS INT) AS r_s,
             CAST(len(regexp_extract_all(lower(text), '\b(fast|slow|big|small)\b')) AS INT) AS p_s
      FROM documents)
    SELECT q.doc_id,
           CAST(q.n_tok AS BIGINT) AS n_tokens,
           CASE WHEN l.a_s >= l.r_s AND l.a_s >= l.p_s THEN 'article'
                WHEN l.r_s >= l.p_s THEN 'relational'
                ELSE 'perf' END AS lang_pred
    FROM q
    JOIN lang l ON q.doc_id = l.doc_id
    JOIN keepers k ON q.doc_id = k.doc_id
    WHERE q.n_tok BETWEEN 5 AND 1000
      AND FLOOR((CAST(10000 AS DOUBLE) * q.n_stop) / q.n_tok) >= 200
      AND (CASE WHEN l.a_s >= l.r_s AND l.a_s >= l.p_s THEN 'article'
                WHEN l.r_s >= l.p_s THEN 'relational'
                ELSE 'perf' END) IN ('article', 'relational')
    """,
)
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data admission pipeline — the query a corpus
    build actually runs: exact-dedup keepers only, length window, minimum
    stopword ratio (natural-text signal), language allowlist. One scan
    feeds three column-expression families plus the fingerprint groupBy;
    no operator here shuffles anything but the dedup aggregation."""
    d = load_table(spark, sf_dir, "documents")
    m = quality_metrics(F.col("text"))
    scored = d.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["stop_ratio_bp"].alias("stop_ratio_bp"),
        lang_id(F.col("text")).alias("lang_pred"),
        fingerprint(F.col("text")).alias("fingerprint"),
    )
    keepers = scored.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return (
        scored.join(keepers.select("doc_id"), on="doc_id", how="left_semi")
        .filter(
            F.col("n_tokens").between(5, 1000)
            & (F.col("stop_ratio_bp") >= 200)
            & F.col("lang_pred").isin("article", "relational")
        )
        .select("doc_id", "n_tokens", "lang_pred")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_COS_SQL = """
      list_reduce(list_transform(list_zip(e.embedding, q.qv),
                                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                  (acc, x) -> acc + x)
      / (sqrt(list_reduce(list_transform(e.embedding,
                                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                          (acc, x) -> acc + x))
         * sqrt(list_reduce(list_transform(q.qv,
                                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                            (acc, x) -> acc + x)))
"""


def _one_query(e: DataFrame) -> DataFrame:
    """The vec_id=0 vector as a one-row query batch (query_id,
    query_vec). The query id is a LITERAL, so the optimizer drops the
    per-query window's foldable partition key and the batch top-k plans
    as TakeOrderedAndProject (per-partition top-k, k-sized merge)."""
    return e.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec")
    )


@register(
    "q_ann_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, {_COS_SQL} AS cos
      FROM embeddings e CROSS JOIN q),
    ranked AS (
      SELECT vec_id, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT vec_id, CAST(FLOOR(1e6 * cos) AS BIGINT) AS score_e6,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 query vector."""
    e = load_table(spark, sf_dir, "embeddings")
    return batch_topk(e, _one_query(e), k=10).drop("query_id")


@register(
    "q_ann_batch",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id, {_COS_SQL} AS cos
      FROM embeddings e CROSS JOIN q),
    ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, CAST(FLOOR(1e6 * cos) AS BIGINT) AS score_e6,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched retrieval: cosine top-3 per query for a 5-vector query
    batch in one plan — one broadcast, one query-keyed WindowGroupLimit."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return batch_topk(e, queries, k=3)


_QBUCKET_SQL = """
             (CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] > 0 THEN '1' ELSE '0' END)
"""


@register(
    "q_ann_batch_ivf",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, {_QBUCKET_SQL} AS qbucket
      FROM embeddings WHERE vec_id < 5),
    cand AS (
      SELECT q.query_id, e.vec_id, e.embedding, q.qv
      FROM embeddings e JOIN q
        ON {_QBUCKET_SQL.replace("embedding", "e.embedding")} = q.qbucket),
    scored AS (SELECT query_id, vec_id, {_COS_SQL.replace("q.qv", "e.qv")} AS cos
               FROM cand e),
    ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT query_id, vec_id, CAST(FLOOR(1e6 * cos) AS BIGINT) AS score_e6,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q_ann_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-join batched retrieval: each corpus row scored only against
    the queries sharing its sign bucket — batch ANN's scale form."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return batch_topk_ivf(e, queries, k=3, bits=4)


@register(
    "q_ann_ivf",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qv,
             (CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] > 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] > 0 THEN '1' ELSE '0' END) AS qbucket
      FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding, q.qv
      FROM embeddings e CROSS JOIN q
      WHERE (CASE WHEN e.embedding[1] > 0 THEN '1' ELSE '0' END ||
             CASE WHEN e.embedding[2] > 0 THEN '1' ELSE '0' END ||
             CASE WHEN e.embedding[3] > 0 THEN '1' ELSE '0' END ||
             CASE WHEN e.embedding[4] > 0 THEN '1' ELSE '0' END) = q.qbucket),
    scored AS (SELECT vec_id, {_COS_SQL.replace("q.qv", "e.qv")} AS cos
               FROM cand e),
    ranked AS (
      SELECT vec_id, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT vec_id, CAST(FLOOR(1e6 * cos) AS BIGINT) AS score_e6,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style sign-bucket-pruned cosine top-5: the scale path — only the
    query's coarse bucket is scanned."""
    e = load_table(spark, sf_dir, "embeddings")
    return batch_topk_ivf(e, _one_query(e), k=5, bits=4).drop("query_id")


@register(
    "q_ann_multiprobe",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qv, {_QBUCKET_SQL} AS qbucket
      FROM embeddings WHERE vec_id = 0),
    probes AS (
      SELECT qv, unnest([
        qbucket,
        (CASE WHEN substr(qbucket,1,1)='1' THEN '0' ELSE '1' END) || substr(qbucket,2),
        substr(qbucket,1,1) || (CASE WHEN substr(qbucket,2,1)='1' THEN '0' ELSE '1' END) || substr(qbucket,3),
        substr(qbucket,1,2) || (CASE WHEN substr(qbucket,3,1)='1' THEN '0' ELSE '1' END) || substr(qbucket,4),
        substr(qbucket,1,3) || (CASE WHEN substr(qbucket,4,1)='1' THEN '0' ELSE '1' END)
      ]) AS bucket FROM q),
    cand AS (
      SELECT DISTINCT e.vec_id, e.embedding, p.qv
      FROM embeddings e JOIN probes p
        ON {_QBUCKET_SQL.replace("embedding", "e.embedding")} = p.bucket),
    scored AS (SELECT vec_id, {_COS_SQL.replace("q.qv", "e.qv")} AS cos
               FROM cand e),
    ranked AS (
      SELECT vec_id, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rank
      FROM scored)
    SELECT vec_id, CAST(FLOOR(1e6 * cos) AS BIGINT) AS score_e6,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF cosine top-5: the query's bucket plus every one-bit
    neighbor — recall recovery at (bits+1)/2^bits scan cost."""
    e = load_table(spark, sf_dir, "embeddings")
    return batch_topk_multiprobe(e, _one_query(e), k=5, bits=4).drop("query_id")


@register(
    "q_containment",
    oracle="WITH "
    + _SHINGLE_SQL
    + """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    capped AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT i.doc_a, i.doc_b, CAST(i.shared AS BIGINT) AS shared,
           CAST(FLOOR((CAST(10000 AS DOUBLE) * i.shared) / sa.sz)
                AS BIGINT) AS containment_bp
    FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
    WHERE FLOOR((CAST(10000 AS DOUBLE) * i.shared) / sa.sz) >= 5000
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-set near-containment pairs — the ASYMMETRIC
    dedup signal (operators/minhash.containment_pairs): a document
    mostly embedded in another scores near 10000 bp regardless of the
    size ratio, exactly where symmetric Jaccard goes to zero (quoted
    articles, concatenated dumps, boilerplate-wrapped reposts).
    Candidates come from the same DF-capped rare-shingle inverted index
    as q_ngram_jaccard_capped; denominators are true set sizes."""
    from oic_options_chains_spark.operators.minhash import (
        containment_pairs,
        doc_shingles,
    )

    from oic_options_chains_spark.operators.similarity import _probe_partitions

    d = load_table(spark, sf_dir, "documents")
    # spread the compact scan before the CPU-dense shingle window
    # (same bench-scale correction as q_prefix_join; partitioning
    # cannot change any downstream integer decision)
    d = d.repartition(_probe_partitions(d), F.col("doc_id"))
    # the shingle relation feeds sizes, the DF cap, and BOTH sides of
    # the candidate join — truncate its window lineage so the shingle
    # build runs once, not once per reference
    sh = doc_shingles(d, "doc_id", "text").localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= 50)
        .select("shingle")
    )
    capped = sh.join(rare, "shingle").select("doc_id", "shingle")
    return containment_pairs(
        capped, sizes, "doc_id", min_shared=2, min_containment_bp=5000
    )


@register(
    "q_ann_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    xscored AS (
      SELECT q.query_id, e.vec_id, {_COS_SQL} AS cos
      FROM embeddings e CROSS JOIN q),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM xscored) WHERE rank <= 10),
    qb AS (SELECT vec_id AS query_id, embedding AS qv, {_QBUCKET_SQL} AS qbucket
           FROM embeddings WHERE vec_id < 5),
    cand AS (
      SELECT qb.query_id, e.vec_id, e.embedding, qb.qv
      FROM embeddings e JOIN qb
        ON {_QBUCKET_SQL.replace("embedding", "e.embedding")} = qb.qbucket),
    ascored AS (SELECT query_id, vec_id, {_COS_SQL.replace("q.qv", "e.qv")} AS cos
                FROM cand e),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM ascored) WHERE rank <= 10),
    kx AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_exact
           FROM exact GROUP BY 1),
    nh AS (SELECT x.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM exact x JOIN approx a
             ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           GROUP BY 1)
    SELECT k.query_id, k.k_exact,
           CAST(COALESCE(n.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(10000 * COALESCE(n.n_hits, 0) // k.k_exact AS BIGINT) AS recall_bp
    FROM kx k LEFT JOIN nh n ON k.query_id = n.query_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of single-probe sign-bucket IVF vs the exact batch
    retrieval, per query (operators/similarity.ann_recall) — the
    acceptance metric for every ANN shortcut: what fraction of the true
    neighbors the bucket pruning kept. Inputs are the two retrieval
    operators' own k-row outputs, so the eval itself is queries x k
    sized."""
    from oic_options_chains_spark.operators.similarity import ann_recall

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = batch_topk(e, queries, k=10)
    approx = batch_topk_ivf(e, queries, k=10, bits=4)
    return ann_recall(exact, approx)


_PROBES_SQL = """
      SELECT query_id, qv, unnest([
        qbucket,
        (CASE WHEN substr(qbucket,1,1)='1' THEN '0' ELSE '1' END) || substr(qbucket,2),
        substr(qbucket,1,1) || (CASE WHEN substr(qbucket,2,1)='1' THEN '0' ELSE '1' END) || substr(qbucket,3),
        substr(qbucket,1,2) || (CASE WHEN substr(qbucket,3,1)='1' THEN '0' ELSE '1' END) || substr(qbucket,4),
        substr(qbucket,1,3) || (CASE WHEN substr(qbucket,4,1)='1' THEN '0' ELSE '1' END)
      ]) AS bucket"""


@register(
    "q_ann_recall_mp",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {_QBUCKET_SQL} AS qbucket
               FROM embeddings WHERE vec_id < 5),
    xscored AS (
      SELECT q.query_id, e.vec_id, {_COS_SQL} AS cos
      FROM embeddings e CROSS JOIN q),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM xscored) WHERE rank <= 10),
    probes AS ({_PROBES_SQL} FROM q),
    cand AS (
      SELECT DISTINCT p.query_id, e.vec_id, e.embedding, p.qv
      FROM embeddings e JOIN probes p
        ON {_QBUCKET_SQL.replace("embedding", "e.embedding")} = p.bucket),
    ascored AS (SELECT query_id, vec_id, {_COS_SQL.replace("q.qv", "e.qv")} AS cos
                FROM cand e),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM ascored) WHERE rank <= 10),
    kx AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_exact
           FROM exact GROUP BY 1),
    nh AS (SELECT x.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM exact x JOIN approx a
             ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           GROUP BY 1)
    SELECT k.query_id, k.k_exact,
           CAST(COALESCE(n.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(10000 * COALESCE(n.n_hits, 0) // k.k_exact AS BIGINT) AS recall_bp
    FROM kx k LEFT JOIN nh n ON k.query_id = n.query_id
    """,
)
def q_ann_recall_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of MULTIPROBE sign-bucket IVF vs exact retrieval — the
    companion measurement to q_ann_recall: probing each query's bucket
    plus its four Hamming-1 neighbors scans 5/16 of the corpus and
    recovers the recall single-probe leaves on bucket boundaries (the
    lift the pair of queries quantifies)."""
    from oic_options_chains_spark.operators.similarity import ann_recall

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = batch_topk(e, queries, k=10)
    approx = batch_topk_multiprobe(e, queries, k=10, bits=4)
    return ann_recall(exact, approx)


_RRF_TERMS = ("table", "join", "query")
_RRF_TERMS_SQL = "('table', 'join', 'query')"


@register(
    "q_hybrid_rrf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dscored AS (
      SELECT e.vec_id, {_COS_SQL} AS cos
      FROM embeddings e CROSS JOIN q),
    dense AS (
      SELECT vec_id AS id, rank AS rd FROM (
        SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id ASC)
                 AS rank
        FROM dscored) WHERE rank <= 20),
    tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           FROM dl),
    dfq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term),
    nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM dl),
    factors AS (
      SELECT tf.doc_id,
             CAST(FLOOR(1000000.0 *
                  ((CAST(tf.tf AS DOUBLE) * 2.2)
                   / (CAST(tf.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))))
               AS BIGINT) AS tf_sat_e6,
             CAST(FLOOR(1000000.0 *
                  ((n - CAST(doc_freq AS DOUBLE) + 0.5)
                   / (CAST(doc_freq AS DOUBLE) + 0.5)))
               AS BIGINT) AS idf_rational_e6
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN ad CROSS JOIN nd
      WHERE tf.term IN {_RRF_TERMS_SQL}),
    sscore AS (SELECT doc_id, SUM(tf_sat_e6 * idf_rational_e6) AS s
               FROM factors GROUP BY doc_id),
    sparse AS (
      SELECT doc_id AS id, rank AS rs FROM (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC)
                 AS rank
        FROM sscore) WHERE rank <= 20),
    fused AS (
      SELECT COALESCE(d.id, s.id) AS id,
             (CASE WHEN d.rd IS NULL THEN 0
                   ELSE 1000000000 // (60 + d.rd) END
              + CASE WHEN s.rs IS NULL THEN 0
                     ELSE 1000000000 // (60 + s.rs) END) AS rrf_sc,
             d.rd AS dense_rank, s.rs AS sparse_rank
      FROM dense d FULL OUTER JOIN sparse s ON d.id = s.id)
    SELECT CAST(id AS BIGINT) AS id, CAST(rrf_sc AS BIGINT) AS rrf_sc,
           CAST(dense_rank AS INT) AS dense_rank,
           CAST(sparse_rank AS INT) AS sparse_rank,
           CAST(row_number() OVER (ORDER BY rrf_sc DESC, id ASC) AS INT)
             AS rank
    FROM fused
    QUALIFY rank <= 10
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.):
    a dense leg (cosine top-20 vs the vec_id=0 query vector) and a
    sparse leg (BM25-factor score of a fixed term set, top-20) fused as
    sum of 10^9 div (60 + rank) — the standard RAG-prep combiner, and
    integer-exact once each leg's rank is fixed (both legs break ties
    on id). Rankings go through orderBy+limit (TakeOrderedAndProject:
    per-partition top-k, no global sort); the fusion join touches 2k
    rows."""
    from pyspark.sql import Window

    from oic_options_chains_spark.operators.ranking import bm25_components

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    dense = batch_topk(e, _one_query(e), k=20).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("rd")
    )
    sscore = (
        bm25_components(d)
        .filter(F.col("term").isin(*_RRF_TERMS))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf_sat_e6") * F.col("idf_rational_e6"))
            .cast("bigint")
            .alias("s")
        )
    )
    # top-20 via TakeOrderedAndProject, then rank the 20 survivors (a
    # k-sized window, not a corpus-sized one)
    stop = sscore.orderBy(F.col("s").desc(), F.col("doc_id").asc()).limit(20)
    sparse = stop.withColumn(
        "rs",
        F.row_number().over(
            Window.orderBy(F.col("s").desc(), F.col("doc_id").asc())
        ),
    ).select(F.col("doc_id").alias("id"), "rs")
    contrib = lambda r: F.when(  # noqa: E731
        F.col(r).isNotNull(), F.expr(f"1000000000 div (60 + {r})")
    ).otherwise(F.lit(0))
    fused = (
        dense.join(sparse, "id", "full_outer")
        .select(
            F.col("id").cast("bigint").alias("id"),
            (contrib("rd") + contrib("rs")).cast("bigint").alias("rrf_sc"),
            F.col("rd").cast("int").alias("dense_rank"),
            F.col("rs").cast("int").alias("sparse_rank"),
        )
    )
    ranked = fused.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("rrf_sc").desc(), F.col("id").asc()))
        .cast("int"),
    )
    return ranked.filter(F.col("rank") <= 10)


@register(
    "q_maxsim",
    oracle="""
    WITH d AS (
      SELECT vec_id, embedding, len(embedding) // 4 AS sl FROM embeddings),
    dt0 AS (SELECT vec_id, embedding, sl, unnest(range(0, 4)) AS dpos FROM d),
    dt AS (SELECT vec_id, dpos,
                  embedding[dpos * sl + 1:(dpos + 1) * sl] AS dvec
           FROM dt0),
    q0 AS (SELECT vec_id AS query_id, embedding,
                  len(embedding) // 4 AS sl, unnest(range(0, 4)) AS qpos
           FROM embeddings WHERE vec_id < 3),
    qt AS (SELECT query_id, qpos,
                  embedding[qpos * sl + 1:(qpos + 1) * sl] AS qvec
           FROM q0),
    pair AS (
      SELECT qt.query_id, dt.vec_id, qt.qpos,
             CAST(FLOOR(1e6 * list_reduce(
               list_transform(list_zip(dt.dvec, qt.qvec),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
               (acc, x) -> acc + x)) AS BIGINT) AS dot_e6
      FROM dt CROSS JOIN qt),
    m AS (SELECT query_id, vec_id, qpos, MAX(dot_e6) AS mx
          FROM pair GROUP BY 1, 2, 3),
    s AS (SELECT query_id, vec_id, CAST(SUM(mx) AS BIGINT) AS score_e6
          FROM m GROUP BY 1, 2),
    r AS (SELECT query_id, vec_id, score_e6,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score_e6 DESC, vec_id ASC) AS rank
          FROM s)
    SELECT query_id, vec_id, score_e6, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def q_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim late-interaction top-5 for a 3-query batch
    (operators/similarity.maxsim_topk): each vector is carved into 4
    token sub-vectors, score = Σ_q max_d ⟨q_tok, d_tok⟩ with every dot
    quantized to floor(1e6·dot) BIGINT before the max/sum reduction —
    so the ranking arithmetic is exact integers on both engines. The
    corpus side explodes row-locally (one scan, no shuffle); the 12-row
    query-token table broadcasts; one (query, doc)-keyed aggregate."""
    from oic_options_chains_spark.operators.similarity import maxsim_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return maxsim_topk(e, queries, k=5, n_sub=4)


@register(
    "q_text_normalize",
    oracle="""
    SELECT doc_id,
           '"' || text || '"-...' AS norm_text,
           CAST(length(text) + 6 AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-grade unicode normalization
    (operators/text.normalize_web_text): the query first DIRTIES the
    clean corpus deterministically — curly quotes around each doc, every
    space swapped for NBSP, a zero-width space after every 'e', an
    em-dash and a real ellipsis appended — then normalizes. The oracle
    states the clean ground truth directly ('\"' || text || '\"-...'),
    so the Spark side must fold/delete/collapse its way back to it (the
    q_url_canonical messy-in/ground-truth-out pattern). All JVM
    translate/regexp arithmetic, no Python."""
    from oic_options_chains_spark.operators.text import normalize_web_text

    d = load_table(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("\u201c"),
        F.regexp_replace(
            F.translate(F.col("text"), " ", "\u00a0"), "e", "e\u200b"
        ),
        F.lit("\u201d\u2014\u2026"),
    )
    norm = normalize_web_text(messy)
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("n_chars"),
    )


@register(
    "q_dedup_incremental",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                  FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 2, 0))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc_id,
                  t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
           FROM idx),
    seeds AS (SELECT unnest(range(0, 8)) AS seed),
    sig AS (SELECT doc_id, CAST(seed AS INT) AS seed,
                   MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
            FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                     string_agg(minhash, ',' ORDER BY seed) AS band_key
              FROM sig GROUP BY doc_id, seed // 4),
    cand AS (SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
             FROM bands d
             JOIN bands b ON d.band = b.band AND d.band_key = b.band_key
             WHERE d.doc_id % 10 >= 8 AND b.doc_id % 10 < 8),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    inter AS (SELECT c.delta_id, c.base_id, CAST(COUNT(*) AS BIGINT) AS inter
              FROM cand c
              JOIN sh a ON a.doc_id = c.delta_id
              JOIN sh b ON b.doc_id = c.base_id AND b.shingle = a.shingle
              GROUP BY 1, 2),
    jac AS (SELECT i.delta_id, i.base_id,
                   CAST(FLOOR(10000.0 * i.inter
                        / (sa.sz + sb.sz - i.inter)) AS BIGINT) AS jaccard_bp
            FROM inter i
            JOIN sz sa ON sa.doc_id = i.delta_id
            JOIN sz sb ON sb.doc_id = i.base_id),
    best AS (SELECT delta_id, base_id, jaccard_bp,
                    row_number() OVER (PARTITION BY delta_id
                                       ORDER BY jaccard_bp DESC, base_id ASC)
                      AS rk
             FROM jac WHERE jaccard_bp >= 2000)
    SELECT d.doc_id,
           CAST(CASE WHEN best.base_id IS NULL THEN 1 ELSE 0 END AS INT)
             AS kept,
           best.base_id AS dup_of, best.jaccard_bp
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) best
           ON best.delta_id = d.doc_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental delta-vs-base near-dup screen
    (operators/minhash.incremental_lsh_dedup): the 20% doc_id%10>=8 slice
    plays the incoming batch, the other 80% the already-deduped corpus.
    The delta's band keys bucket-join the base's band INDEX — served
    from the materialized epoch cache (sources/epoch.epoch_parquet +
    minhash.materialize_epoch_band_index, round 13), so per batch the
    base corpus is never re-minhashed — the base never self-pairs, and
    candidates are exact-verified by shingle Jaccard over a verify scan
    pruned to the candidate frontier before a delta doc is dropped."""
    import os

    from oic_options_chains_spark.operators.minhash import (
        incremental_lsh_dedup,
        materialize_epoch_band_index,
    )
    from oic_options_chains_spark.sources.epoch import epoch_parquet

    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") % 10 < 8)
    delta = d.filter(F.col("doc_id") % 10 >= 8)
    # tag pins the slice predicate and band params the contents depend on
    idx = epoch_parquet(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        # v2: the artifact now carries its banding as metadata columns
        # (minhash.BAND_INDEX_META_COLS) verified at screen entry
        "minhash-bands-v2:mod10lt8:h8r4",
        lambda tmp: materialize_epoch_band_index(base, tmp),
    )
    return incremental_lsh_dedup(
        base, delta, min_jaccard_bp=2000, base_index=idx
    )


@register(
    "q_ann_mrr",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    xscored AS (
      SELECT q.query_id, e.vec_id, {_COS_SQL} AS cos
      FROM embeddings e CROSS JOIN q),
    exact1 AS (
      SELECT query_id, vec_id AS true_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM xscored) WHERE rank = 1),
    qb AS (SELECT vec_id AS query_id, embedding AS qv, {_QBUCKET_SQL} AS qbucket
           FROM embeddings WHERE vec_id < 5),
    cand AS (
      SELECT qb.query_id, e.vec_id, e.embedding, qb.qv
      FROM embeddings e JOIN qb
        ON {_QBUCKET_SQL.replace("embedding", "e.embedding")} = qb.qbucket),
    ascored AS (SELECT query_id, vec_id, {_COS_SQL.replace("q.qv", "e.qv")} AS cos
                FROM cand e),
    approx AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id ASC) AS rank
        FROM ascored) WHERE rank <= 10)
    SELECT e.query_id, e.true_id,
           CAST(a.rank AS INT) AS found_rank,
           CAST(COALESCE(1000000 // a.rank, 0) AS BIGINT) AS rr_e6
    FROM exact1 e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.vec_id = e.true_id
    """,
)
def q_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank of the TRUE nearest neighbor inside the
    single-probe IVF top-10, per query
    (operators/similarity.mrr_of_true_nearest) — the MRR companion to
    q_ann_recall: recall asks how much of the top-k survived the bucket
    pruning, this asks where the one right answer landed (rr_e6 =
    floor(1e6/rank), 0 when pruning lost it). Exact integer rationals,
    one queries-sized join."""
    from oic_options_chains_spark.operators.similarity import mrr_of_true_nearest

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = batch_topk(e, queries, k=10)
    approx = batch_topk_ivf(e, queries, k=10, bits=4)
    return mrr_of_true_nearest(exact, approx)


@register(
    "q_ngram_novelty",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                  FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(range(0, greatest(len(t) - 2, 0))) AS i
            FROM toks),
    sh AS (SELECT DISTINCT doc_id,
                  t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
           FROM idx),
    df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
           FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(10000 * SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS novelty_bp
    FROM sh JOIN df ON df.shingle = sh.shingle
    GROUP BY sh.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-gram shingles appearing NOWHERE else in the corpus (corpus
    df == 1) — the duplication/memorization-risk profile a dataset card
    reports (a novelty collapse flags template farms; novelty ~1 flags
    unique content worth upweighting). Shingle df is a dictionary-sized
    aggregate of the same inverted index the dedup tier builds
    (operators/minhash.doc_shingles); the ratio is an exact integer
    basis-point division."""
    from oic_options_chains_spark.operators.minhash import doc_shingles

    d = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(d, "doc_id", "text", distinct=True)
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("int")).cast("bigint").alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_novel",
            "CAST(10000 * n_novel div n_shingles AS BIGINT) AS novelty_bp",
        )
    )


_OPH_BINS = 8


def _oph_sql(k: int = _OPH_BINS) -> str:
    """CTE mirroring operators/minhash._wide_oph: one md5 per shingle,
    hash-value binning, per-bin minima, rotation densification as a
    k-arm COALESCE. ('0x' || hex)::BIGINT == Spark's conv(hex,16,10)
    for the 48-bit prefix used."""
    mins = ",\n             ".join(
        f"MIN(CASE WHEN bin = {i} THEN h END) AS m{i}" for i in range(k)
    )
    dense = ",\n             ".join(
        "COALESCE("
        + ", ".join(f"m{(i + j) % k}" for j in range(k))
        + f") AS d{i}"
        for i in range(k)
    )
    return (
        "WITH "
        + _SHINGLE_SQL
        + f""",
    oph0 AS (
      SELECT doc_id, md5(shingle) AS h,
             ('0x' || substring(md5(shingle), 1, 12))::BIGINT % {k} AS bin
      FROM sh),
    om AS (SELECT doc_id,
             {mins}
           FROM oph0 GROUP BY doc_id),
    od AS (SELECT doc_id,
             {dense}
           FROM om)
"""
    )


@register(
    "q_minhash_oph",
    oracle=_oph_sql()
    + "    "
    + "\n    UNION ALL ".join(
        f"SELECT doc_id, CAST({i} AS INT) AS seed, d{i} AS minhash FROM od"
        for i in range(_OPH_BINS)
    ),
)
def q_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densified one-permutation-hashing sketch (Li/Owen/Zhang 2012 +
    rotation densification): ONE md5 per shingle binned by hash value,
    per-bin minima in the same single doc-keyed groupBy as the
    k-permutation path, empty bins borrowing circularly — 1/k the
    signature CPU of q_minhash_signature with the same banding/LSH
    collision semantics. At 100 TB the signature scan is the dominant
    dedup cost, which makes this THE default sketch at scale."""
    d = load_table(spark, sf_dir, "documents")
    return oph_signatures(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )


@register(
    "q_oph_lsh_pairs",
    oracle=_oph_sql()
    + """,
    bands AS (
      SELECT doc_id, CAST(0 AS INT) AS band,
             d0 || ',' || d1 || ',' || d2 || ',' || d3 AS band_key FROM od
      UNION ALL
      SELECT doc_id, CAST(1 AS INT) AS band,
             d4 || ',' || d5 || ',' || d6 || ',' || d7 AS band_key FROM od)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    """,
)
def q_oph_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs over the OPH sketch: the fused
    signature+banding single-shuffle path (oph_band_keys), bucket
    self-join on (band, band_key) — q_minhash_lsh_pairs' plan shape at
    1/k the hashing CPU."""
    from oic_options_chains_spark.operators.minhash import (
        lsh_candidate_pairs,
        oph_band_keys,
    )

    d = load_table(spark, sf_dir, "documents")
    bands = oph_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    return lsh_candidate_pairs(bands, "doc_id")


@register(
    "q_neardup_owners",
    oracle=_oph_sql()
    + """,
    bands AS (
      SELECT doc_id, CAST(0 AS INT) AS band,
             d0 || ',' || d1 || ',' || d2 || ',' || d3 AS band_key FROM od
      UNION ALL
      SELECT doc_id, CAST(1 AS INT) AS band,
             d4 || ',' || d5 || ',' || d6 || ',' || d7 AS band_key FROM od),
    owners AS (
      SELECT band, band_key, MIN(doc_id) AS own
      FROM bands GROUP BY band, band_key)
    SELECT b.doc_id, CAST(MIN(o.own) AS BIGINT) AS dup_of
    FROM bands b JOIN owners o
      ON b.band = o.band AND b.band_key = o.band_key AND b.doc_id <> o.own
    GROUP BY b.doc_id
    """,
)
def q_neardup_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document earliest near-dup ancestor under the OPH bucket-
    owner rule: each LSH bucket is owned by its min doc_id, and every
    other member points at the smallest owner across its buckets. This
    is the BATCH truth the streaming twin
    (streaming/neardup_stream.streaming_near_dup) reproduces
    cross-batch with keyed state — proven equivalent on id-ordered
    ingest in tests/test_neardup_stream.py."""
    from oic_options_chains_spark.operators.minhash import oph_band_keys

    d = load_table(spark, sf_dir, "documents")
    bands = oph_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    owners = bands.groupBy("band", "band_key").agg(F.min("doc_id").alias("own"))
    return (
        bands.join(owners, ["band", "band_key"])
        .filter(F.col("doc_id") != F.col("own"))
        .groupBy("doc_id")
        .agg(F.min("own").cast("bigint").alias("dup_of"))
    )


@register(
    "q_dedup_ensemble",
    oracle="WITH RECURSIVE "
    + _SIG_SQL.removeprefix("WITH ")
    + r""",
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY seed) AS band_key
      FROM sig GROUP BY doc_id, seed // 4),
    mh AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS f
      FROM documents),
    ex AS (
      SELECT k.m AS doc_a, fp.doc_id AS doc_b
      FROM fp JOIN (SELECT f, MIN(doc_id) AS m FROM fp GROUP BY f) k
      USING (f) WHERE fp.doc_id > k.m),
    nbv AS (
      SELECT CASE WHEN COUNT(*) <= 256 THEN 1
             ELSE LEAST(16, GREATEST(1, CAST(CEIL(LOG2(COUNT(*) / 256.0))
                                             AS INT))) END AS b
      FROM embeddings),
    eb AS (
      SELECT vec_id, embedding,
             array_to_string(
               list_transform(list_slice(embedding, 1, (SELECT b FROM nbv)),
                              x -> CASE WHEN x > 0 THEN '1' ELSE '0' END),
               '') AS bucket
      FROM embeddings),
    ep AS (
      SELECT a.vec_id AS doc_a, c.vec_id AS doc_b
      FROM eb a JOIN eb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE list_reduce(list_transform(list_zip(a.embedding, c.embedding),
                                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                        (acc, x) -> acc + x)
            / (sqrt(list_reduce(list_transform(a.embedding,
                                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                (acc, x) -> acc + x))
               * sqrt(list_reduce(list_transform(c.embedding,
                                                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                  (acc, x) -> acc + x))) >= 0.35),
    tagged AS (
      SELECT doc_a, doc_b, 1 AS sig FROM ex
      UNION ALL SELECT doc_a, doc_b, 2 FROM mh
      UNION ALL SELECT doc_a, doc_b, 4 FROM ep),
    edg AS (SELECT doc_a, doc_b, bit_or(sig) AS signals
            FROM tagged GROUP BY doc_a, doc_b),
    und AS (SELECT doc_a AS a, doc_b AS b FROM edg
            UNION SELECT doc_b, doc_a FROM edg),
    reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM und)
      UNION
      SELECT r.src, e.b FROM reach r JOIN und e ON r.dst = e.a),
    cc AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
           FROM reach GROUP BY src),
    inc AS (SELECT doc_a AS doc_id, signals FROM edg
            UNION ALL SELECT doc_b, signals FROM edg),
    sg AS (SELECT doc_id, bit_or(signals) AS signals FROM inc GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
           CAST(CASE WHEN d.doc_id = COALESCE(cc.cluster_id, d.doc_id)
                     THEN 1 ELSE 0 END AS INT) AS is_keeper,
           CAST(COALESCE(sg.signals, 0) AS INT) AS signals
    FROM documents d
    LEFT JOIN cc ON d.doc_id = cc.doc_id
    LEFT JOIN sg ON d.doc_id = sg.doc_id
    """,
)
def q_dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal ensemble dedup (operators/clusters.ensemble_dedup):
    exact-hash star edges (bit 1) + MinHash LSH band collisions (bit 2)
    + embedding-cosine near-dups (bit 4) union into ONE graph; connected
    components run once over the combined edges, and each document
    reports the provenance bitmask of the signals that implicated it.
    The transitive closure across signals is the point: A=B exactly and
    B~C semantically puts A, B, C in one cluster — no single signal
    sees that."""
    from oic_options_chains_spark.operators.clusters import (
        ensemble_dedup,
        exact_star_edges,
    )

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bands = minhash_band_keys(
        doc_shingles(d, "doc_id", "text", distinct=False), "doc_id"
    )
    # star edges for the cluster graph (identical components + per-doc
    # incident signals as the pair clique; immune to exact-dup
    # mega-clusters — see minhash.lsh_star_edges)
    from oic_options_chains_spark.operators.minhash import lsh_star_edges

    lsh = lsh_star_edges(bands, "doc_id")
    # bits auto-scale with the corpus (bits_for, replayed by the nbv
    # CTE) so the pair stage stays bucket-bounded at any sf; the bucket
    # target is 256 rows — PAIRING is quadratic per bucket, so it wants
    # a smaller bucket than ANN probing's 1024-row default. The
    # pinned-4 form stays on q_dedup_embedding for the fixed-width check.
    # Row count comes from the parquet FOOTERS (driver metadata read),
    # never a count() job — query construction stays lazy like the other
    # registered builders, and at 100 TB sizing costs zero corpus passes.
    from oic_options_chains_spark.operators.similarity import bits_for
    from oic_options_chains_spark.sources.registry import table_row_count

    emb = near_dup_pairs(
        e,
        threshold=0.35,
        bits=bits_for(
            # spark= enables the non-local-sf_dir fallback (a Spark-side
            # count) when no pyarrow filesystem binding covers the scheme
            table_row_count(sf_dir, "embeddings", spark=spark),
            target_bucket_rows=256,
        ),
        broadcast_candidates=True,
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return ensemble_dedup(
        d, {1: exact_star_edges(d), 2: lsh, 4: emb}
    )


def _lsh_design_oracle() -> str:
    from oic_options_chains_spark.operators.minhash import (
        LSH_CONFIGS,
        lsh_p_expr,
    )

    pair_sql = (
        "WITH "
        + _SHINGLE_SQL
        + """,
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    capped AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    jac AS (
      SELECT CAST(FLOOR((CAST(10000 AS DOUBLE) * i.shared)
                        / (sa.sz + sb.sz - i.shared)) AS BIGINT) AS bp
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE FLOOR((CAST(10000 AS DOUBLE) * i.shared)
                  / (sa.sz + sb.sz - i.shared)) >= 500),
    hist AS MATERIALIZED (SELECT LEAST(bp // 1000, 10) AS s_tenths,
                    CAST(COUNT(*) AS BIGINT) AS n_pairs
             FROM jac GROUP BY 1),
    detail AS ("""
    )
    selects = [
        f"""
      SELECT CAST({r} AS INT) AS rows_per_band, CAST({b} AS INT) AS bands,
             CAST(s_tenths AS INT) AS s_tenths, n_pairs,
             CAST({lsh_p_expr(r, b, "//")} AS BIGINT) AS p_e6
      FROM hist"""
        for r, b in LSH_CONFIGS
    ]
    return (
        pair_sql
        + "\n      UNION ALL".join(selects)
        + """)
    SELECT rows_per_band, bands, s_tenths, n_pairs, p_e6,
           CAST(SUM(n_pairs * p_e6) OVER w // SUM(n_pairs) OVER w AS BIGINT)
             AS config_recall_e6
    FROM detail
    WINDOW w AS (PARTITION BY rows_per_band, bands)
    """
    )


@register("q_lsh_design", oracle=_lsh_design_oracle())
def q_lsh_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design audit (operators/minhash.lsh_recall_audit):
    the exact integer S-curve P(collide) = 1 - (1 - s^r)^b for every
    (rows_per_band, bands) config in the 8- and 16-hash budgets,
    evaluated at THIS corpus's observed near-dup similarity deciles,
    with each config's expected recall over that distribution — the
    parameter-choice table computed from data, not an assumed mix.
    Powers unroll to literal multiplication chains so every value is
    bigint-exact on any engine."""
    from oic_options_chains_spark.operators.minhash import (
        lsh_recall_audit,
        ngram_jaccard_pairs_capped,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_capped(
        doc_shingles(d, "doc_id", "text"), "doc_id", df_cap=50
    )
    return lsh_recall_audit(pairs)
