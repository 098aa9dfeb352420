"""Perceptual average-hash (aHash) near-duplicate detection for images.

The LAION-style media dedup step: hash each image down to 64 bits that
survive re-encoding, resizing and mild noise, then find near-duplicates
by Hamming distance — exactly the SimHash pipeline shape
(operators/minhash.py SimHash tier), but with bits that come from PIXEL
BLOCK MEANS instead of token hashes: bit b is 1 iff the mean of block b
(of an 8x8 block grid over a SIDE x SIDE grayscale raster) is >= the
global mean. Banded exact search: 64 bits split into 4 x 16-bit bands;
a pair at Hamming distance <= 3 shares at least one full band
(pigeonhole), so candidates come from an equi-join on (band_idx,
band_value) — never an all-pairs scan.

Two inputs, mirroring the repo's multimodal contract:

- :func:`ahash_band_table` — a raster whose pixels are the document
  text's code points (the established "text bytes stand in for a media
  blob" convention, q_binary_meta) — fully oracle-replayable in SQL,
  and the banding / verify math is the production one.
- :func:`ahash64` / :func:`image_ahash_kernel` — the same hash over
  REAL decoded pixels (numpy, from operators/codecs decode_png etc.),
  for the mapInPandas kernel tier where actual media lives; undecodable
  blobs quarantine like the codec queries do.

Integer arithmetic throughout, so Spark and the SQL oracle agree
bit-for-bit: hash CONSTRUCTION uses sums/DIV/arithmetic bit extraction
(portably replayed by the DuckDB oracles), while the pair-verify
Hamming uses Spark's codegen'd ``bit_count(xor)`` — the oracles keep
the arithmetic form, so the two implementations cross-check each other.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oic_options_chains_spark.operators.kernel import row_kernel

SIDE = 32  # raster is SIDE x SIDE pixels
GRID = 8  # GRID x GRID blocks, each (SIDE/GRID)^2 pixels
BH = SIDE // GRID  # block height/width in pixels
N_BLOCKS = GRID * GRID
N_BANDS = 4
BITS_PER_BAND = N_BLOCKS // N_BANDS


def _text_band_kernel(
    src: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(__id, __bands) via one vectorized numpy pass per Arrow batch,
    batch or streaming. Per batch: one (n, SIDE, SIDE) block-sum
    reshape and one threshold pass; only the tiling codepoint map
    (:func:`_tiled_codepoints`) runs per row, O(SIDE*SIDE). Equal to
    ``bands_of(ahash64(raster))`` over the tiled raster; NULL text
    yields NULL bands."""
    import pandas as pd

    id_type = src.schema[id_col].dataType.simpleString()
    schema = f"__id {id_type}, __bands array<bigint>"
    weights_shape = (N_BANDS, BITS_PER_BAND)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = (1 << np.arange(BITS_PER_BAND, dtype=np.int64)).reshape(
            1, 1, BITS_PER_BAND
        )
        for pdf in batches:
            ids: list = []
            bands: list[list[int] | None] = []
            null_ids: list = []
            rasters: list = []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    null_ids.append(rid)
                    continue
                ids.append(rid)
                rasters.append(_tiled_codepoints(text))
            if rasters:
                a = np.stack(rasters).reshape(len(rasters), GRID, BH, GRID, BH)
                blocks = a.sum(axis=(2, 4)).reshape(len(rasters), N_BLOCKS)
                bits = blocks * N_BLOCKS >= blocks.sum(axis=1, keepdims=True)
                vals = (
                    bits.reshape(-1, *weights_shape).astype(np.int64) * weights
                ).sum(axis=2)
                bands = [list(map(int, row)) for row in vals]
            yield pd.DataFrame(
                {
                    "__id": ids + null_ids,
                    "__bands": bands + [None] * len(null_ids),
                }
            )

    return src.select(id_col, text_col).mapInPandas(run, schema)


def ahash_band_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(__id, __bands) per document, batch or streaming, through
    :func:`_text_band_kernel`. Row-local apart from one adaptive
    repartition of under-split BATCH inputs."""
    # hashing is CPU-dense per row, so its parallelism must come from an
    # explicit exchange when the SCAN can't provide it (one compact
    # parquet file = one core otherwise — the near_dup_pairs lesson).
    # Adaptive, not unconditional: at warehouse scale the scan is
    # already split across thousands of tasks and a pre-hash
    # repartition would be a pure full-data shuffle tax; streaming
    # micro-batches take their parallelism from the source.
    from oic_options_chains_spark.operators.similarity import _probe_partitions

    src = docs
    if not docs.isStreaming:
        want = _probe_partitions(docs)
        if docs.rdd.getNumPartitions() < want:
            src = docs.repartition(want, F.col(id_col))
    return _text_band_kernel(src, id_col, text_col)


def hamming_from_bands(a: Column, b: Column) -> Column:
    """Exact Hamming distance from two band arrays: per-band
    ``bit_count(a XOR b)``, unrolled over the N_BANDS elements so the
    whole expression stays inside whole-stage codegen (the previous
    arithmetic bit-extraction form walked 64 HOF iterations per pair,
    INTERPRETED — ~100x more work per candidate, which is what the
    verify stage is made of). ``bit_count`` is a standard Spark/ANSI
    builtin (DuckDB has it too; the oracles keep their portable
    arithmetic form on purpose, so the two implementations cross-check
    each other)."""
    total: Column | None = None
    for t in range(1, N_BANDS + 1):
        x = F.bit_count(
            F.element_at(a, t).bitwiseXOR(F.element_at(b, t))
        ).cast("bigint")
        total = x if total is None else total + x
    assert total is not None
    return total


def ahash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair within ``max_hamming``
    that shares at least one band (complete for max_hamming <
    N_BANDS by pigeonhole). One band-keyed exchange for the candidate
    join; verification touches only candidates. Pairs matching in
    several bands are emitted ONCE, from their FIRST matching band —
    each side carries all four band values, so "an earlier band also
    matches" is a post-join column predicate, replacing a
    candidate-wide distinct() exchange (the largest intermediate in
    the query at corpus scale; same trick as simhash_near_pairs)."""
    # The checkpoint materializes the hashed relation once, before the
    # band-keyed self-join reads it from both sides. It is (id, 4 ints)
    # per image — tiny next to the media it indexes.
    hashed = ahash_band_table(docs, id_col=id_col, text_col=text_col)
    hashed = hashed.localCheckpoint(eager=True)
    return pairs_from_band_table(hashed, max_hamming=max_hamming)


def _earlier_band_matches(a_bands: Column, b_bands: Column, band_idx: Column) -> Column:
    """True when some band BEFORE ``band_idx`` also matches — the
    emit-once predicate (a pair is produced from its FIRST matching
    band only, replacing a candidate-wide distinct)."""
    earlier = None
    for j in range(N_BANDS - 1):
        c = (band_idx > j) & (
            F.element_at(a_bands, j + 1) == F.element_at(b_bands, j + 1)
        )
        earlier = c if earlier is None else earlier | c
    assert earlier is not None
    return earlier


def _sub_band_width(max_hamming: int) -> int:
    """Bit width of the in-bucket refinement sub-bands: the OTHER
    (N_BANDS-1)*BITS_PER_BAND bits split into max_hamming+1 chunks
    (ceil), so a pair with <= max_hamming total differing bits must
    match at least one chunk exactly (pigeonhole, level 2)."""
    other_bits = (N_BANDS - 1) * BITS_PER_BAND
    return -(-other_bits // (max_hamming + 1))


def _with_sub_bands(
    banded: DataFrame, max_hamming: int, bands_col: str = "__bands"
) -> DataFrame:
    """Hot-tier refinement columns: ``__comp`` packs the N_BANDS-1
    bands OTHER than the matched one into one integer (<= 48 bits,
    exact in a bigint), and (sub_idx, sub_val) explodes its
    max_hamming+1 pigeonhole chunks."""
    width = _sub_band_width(max_hamming)
    mask = (1 << width) - 1
    others = F.filter(
        F.col(bands_col), lambda _x, j: j != F.col("band_idx")
    )
    comp = None
    for p in range(N_BANDS - 1):
        term = F.element_at(others, p + 1) * F.lit(1 << (p * BITS_PER_BAND))
        comp = term if comp is None else comp + term
    subs = F.array(
        *[
            F.struct(
                F.lit(k).alias("sub_idx"),
                F.shiftright(F.col("__comp"), k * width)
                .bitwiseAND(F.lit(mask))
                .alias("sub_val"),
            )
            for k in range(max_hamming + 1)
        ]
    )
    return (
        banded.withColumn("__comp", comp.cast("bigint"))
        .withColumn("__sub", F.explode(subs))
        .select(
            "*",
            F.col("__sub.sub_idx").alias("sub_idx"),
            F.col("__sub.sub_val").alias("sub_val"),
        )
        .drop("__sub")
    )


def _earlier_sub_matches(
    comp_a: Column, comp_b: Column, sub_idx: Column, max_hamming: int
) -> Column:
    """Emit-once predicate for the hot tier's second pigeonhole level:
    true when an earlier sub-band of the packed other-bits also
    matches."""
    width = _sub_band_width(max_hamming)
    mask = (1 << width) - 1
    earlier = None
    for j in range(max_hamming):  # sub_idx ranges over max_hamming+1 chunks
        c = (sub_idx > j) & (
            F.shiftright(comp_a, j * width).bitwiseAND(F.lit(mask))
            == F.shiftright(comp_b, j * width).bitwiseAND(F.lit(mask))
        )
        earlier = c if earlier is None else earlier | c
    assert earlier is not None
    return earlier


def pairs_from_band_table(
    hashed: DataFrame, max_hamming: int = 3, hot_bucket_cap: int = 1024
) -> DataFrame:
    """(doc_a, doc_b, hamming) within ``max_hamming`` from a prepared
    (__id, __bands) table — the banded candidate join + verify shared by
    the text-raster path (:func:`ahash_pairs`) and the real-pixel
    kernel path (:func:`media_near_dup`). ``hashed`` should be checkpointed/
    materialized by the caller (it is tiny: id + 4 ints per image).

    Two-tier candidate generation (round-10 skew fix). A band value
    shared by B images makes the plain band equi-join emit B^2/2
    candidates; on a skewed corpus (the Zipf-template stress twin: one
    shared text prefix biases the prefix-derived 16-bit band for ~40%
    of the corpus) a single bucket held ~6k members and candidate count
    went 3M (uniform) -> 156M (skewed) — a 40x wall-time blowup that no
    amount of salting fixes, because the quadratic work itself is the
    problem, and ~all of it FAILED the Hamming verify (false
    candidates from one biased band).

    - Tier 1 — buckets with <= ``hot_bucket_cap`` members: the plain
      band-keyed equi-join, unchanged.
    - Tier 2 — hot buckets: pigeonhole AGAIN inside the bucket. A pair
      matching at band i with total Hamming <= H differs in <= H bits
      across the OTHER (N_BANDS-1)*16 bits; splitting those into H+1
      sub-bands guarantees an exact sub-band match, so the hot join
      adds (sub_idx, sub_val) to the key and each hot bucket fragments
      into up-to-2^12-way sub-buckets. Exact — no candidate a true
      pair needs is lost at either level; each pair is emitted ONCE
      (first matching band; within the hot tier, first matching
      sub-band).

    The hot-key relation is tiny by construction (count > cap) and is
    broadcast; at 100 TB the bucket-count aggregate is map-side
    combinable over the already-shuffled band table, so the split adds
    no extra corpus-wide exchange."""
    banded = hashed.select(
        "__id",
        "__bands",
        F.posexplode("__bands").alias("band_idx", "band_val"),
    )
    hot = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > hot_bucket_cap)
        .select("band_idx", "band_val", F.lit(True).alias("__hot"))
    )
    tagged = banded.join(F.broadcast(hot), ["band_idx", "band_val"], "left")
    normal = tagged.filter(F.col("__hot").isNull()).drop("__hot")
    hot_rows = _with_sub_bands(
        tagged.filter(F.col("__hot")).drop("__hot"), max_hamming
    )

    def _pair_cols(a, b):
        return [
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            F.col("a.__bands").alias("__ba"),
            F.col("b.__bands").alias("__bb"),
        ]

    a, b = normal.alias("a"), normal.alias("b")
    first_band = ~_earlier_band_matches(
        F.col("a.__bands"), F.col("b.__bands"), F.col("a.band_idx")
    )
    cand_normal = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(first_band)
        .select(*_pair_cols(a, b))
    )
    ha, hb = hot_rows.alias("a"), hot_rows.alias("b")
    first_sub = ~_earlier_sub_matches(
        F.col("a.__comp"), F.col("b.__comp"), F.col("a.sub_idx"), max_hamming
    )
    cand_hot = (
        ha.join(
            hb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.sub_idx") == F.col("b.sub_idx"))
            & (F.col("a.sub_val") == F.col("b.sub_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(first_band & first_sub)
        .select(*_pair_cols(ha, hb))
    )
    cand = cand_normal.unionByName(cand_hot)
    return cand.select(
        "doc_a",
        "doc_b",
        hamming_from_bands(F.col("__ba"), F.col("__bb")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def ahash_incremental(
    base: DataFrame | None,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hot_bucket_cap: int = 1024,
    base_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental media dedup: screen a DELTA batch of images against an
    already-deduped BASE corpus without re-pairing the base against
    itself — the aHash twin of minhash.incremental_lsh_dedup, and the
    shape a 100 TB media corpus actually runs in: the base's band index
    is computed ONCE PER EPOCH and passed in as ``base_index`` — a
    STORED (__id, __bands) relation, i.e. the parquet
    :func:`materialize_epoch_index` wrote read back as a scan. Passing
    a LIVE :func:`ahash_band_table` pipeline here instead is the
    inline path's job (``base=``): this path deliberately skips the
    checkpoint barrier on the assumption that the index's lineage is a
    plain scan — a live hashing pipeline would re-execute under both
    the hot-bucket aggregation and the joins, and could re-trigger the
    fused-filter trap the barrier exists to stop. Each incoming batch
    then only hashes ITSELF and bucket-joins the index. Without ``base_index`` the index is computed from ``base``
    inline (the one-shot/test path — at scale that re-hashes the whole
    corpus per batch, which is exactly what the epoch index exists to
    avoid; VERDICT r12 item 2). Exactly one of ``base`` /
    ``base_index`` must be provided... both is ambiguous (which corpus
    is the screen against?) and neither is no base at all.

    Returns one row per delta image: (id, kept, dup_of, hamming) with
    kept=0 when some base image verifies at <= ``max_hamming`` (dup_of
    = the best match, hamming ascending / id ascending), else kept=1
    with NULL dup_of."""
    if (base is None) == (base_index is None):
        raise ValueError(
            "ahash_incremental needs exactly one of base= (inline "
            "hashing) or base_index= (the materialized epoch index)"
        )
    if base_index is not None:
        missing = {"__id", "__bands"} - set(base_index.columns)
        if missing:
            raise ValueError(
                f"base_index lacks the ahash_band_table contract "
                f"columns {sorted(missing)}; got {base_index.columns}"
            )
        # a materialized index arrives as a plain scan — no hashing
        # pipeline in its lineage, so no inferred-filter barrier needed
        base_h = base_index.select("__id", "__bands")
    else:
        base_h = ahash_band_table(base, id_col=id_col, text_col=text_col)
        # same inferred-filter barrier as ahash_pairs (tiny relation)
        base_h = base_h.localCheckpoint(eager=True)
    delta_h = ahash_band_table(delta, id_col=id_col, text_col=text_col)
    delta_h = delta_h.localCheckpoint(eager=True)
    best = incremental_screen_from_band_tables(
        base_h, delta_h, max_hamming=max_hamming, hot_bucket_cap=hot_bucket_cap
    )
    return (
        delta.select(F.col(id_col).alias("delta_id"))
        .join(best, "delta_id", "left")
        .select(
            F.col("delta_id").alias(id_col),
            F.when(F.col("base_id").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("kept"),
            F.col("base_id").cast("bigint").alias("dup_of"),
            F.col("hamming").cast("bigint").alias("hamming"),
        )
    )


def materialize_epoch_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Write ``docs``'s aHash band index — the (__id, __bands) relation
    :func:`ahash_band_table` produces — as parquet at ``path``, the
    once-per-epoch job whose output :func:`ahash_incremental` consumes
    as ``base_index`` on every subsequent delta batch (VERDICT r12
    item 2: the screen's steady-state cost must be delta-side work
    only; re-deriving the base index per batch re-hashes the whole
    corpus every time).

    The index is one row of (id, 4 int64 bands) per image — ~40 bytes
    — so at 100 TB of media it is a few GB of parquet: cheap to scan,
    re-partitionable by band on write if the bucket join wants
    co-location. Contents are a pure function of the corpus, so
    re-materializing after corpus changes yields the identical relation
    (the oracle never sees the cache)."""
    ahash_band_table(docs, id_col=id_col, text_col=text_col).write.mode(
        "overwrite"
    ).parquet(path)


def hot_bucket_keys(base_h: DataFrame, hot_bucket_cap: int = 1024) -> DataFrame:
    """(band_idx, band_val, __hot=true) for every base-index bucket past
    ``hot_bucket_cap`` — the tier-split relation of
    :func:`incremental_screen_hits`, exposed so a consumer that screens
    MANY deltas against ONE epoch index (a stream's micro-batches, a
    day of batch jobs) computes the aggregation once and passes it via
    ``hot=`` instead of re-aggregating the full index per screen. Tiny
    by construction (only over-cap buckets appear), so an eager
    localCheckpoint of it is cheap."""
    banded = base_h.select(
        F.posexplode_outer("__bands").alias("band_idx", "band_val")
    ).filter(F.col("band_val").isNotNull())
    return (
        banded.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > hot_bucket_cap)
        .select("band_idx", "band_val", F.lit(True).alias("__hot"))
    )


def incremental_screen_hits(
    base_h: DataFrame,
    delta_h: DataFrame,
    max_hamming: int = 3,
    hot_bucket_cap: int = 1024,
    hot: DataFrame | None = None,
) -> DataFrame:
    """The delta-vs-base banded screen of :func:`ahash_incremental`,
    factored to the prepared-band-table layer (__id, __bands — the
    :func:`ahash_band_table` contract) so the tier split is testable
    with CONTROLLED band values: ALL verified pairs (delta_id, base_id,
    hamming) at <= ``max_hamming`` — no per-delta argmin, so the plan
    is window-free and composes with a STREAMING delta side
    (streaming/incremental_screen_stream.py); the batch verdict wrapper
    is :func:`incremental_screen_from_band_tables`.

    The hot relation is computed from the BASE index only and applied
    to BOTH sides, so within one screen the tier decision can never
    disagree between base and delta; across micro-batches a bucket may
    cross ``hot_bucket_cap`` as deltas fold into the base, which
    changes the JOIN KEY SHAPE for that bucket on the next batch but
    not the result set — both tiers are exact by pigeonhole (property:
    tests/test_round11_ahash_cap.py). Pass ``hot=`` (the
    :func:`hot_bucket_keys` relation, same cap) to reuse one computed
    tier split across many screens of the same epoch index —
    re-deriving it here costs a full index explode + aggregation per
    screen, which a per-micro-batch streaming consumer should not pay."""

    def banded(h: DataFrame, prefix: str) -> DataFrame:
        # EVERY band-derived output — band_idx, band_val, AND the full
        # band array the verify/emit-once stages read — must come out
        # of the Generate as a GENERATED attribute, so the explode
        # emits one struct per band carrying (idx, val, the whole
        # array). Two pushdown traps force this shape (both are the r9
        # streaming_image_near_dup lesson; the second found round 14
        # by stream-benching this screen at sf0.1):
        # 1. a non-outer Generate lets the optimizer infer
        #    size(__bands) > 0 — hence posexplode_OUTER + null filter
        #    on the generated value;
        # 2. passing __bands THROUGH the Generate as a child column
        #    lets InferFiltersFromConstraints derive
        #    isnotnull(__bands) from the downstream null-intolerant
        #    predicates (the hamming filter, the earlier-band
        #    emit-once), and PushDownPredicates then substitutes the
        #    alias chain straight through the band table's staged
        #    projections — the whole raster->sums->bands pipeline
        #    fused into ONE per-scan-row interpreted filter (~15k-char
        #    Filter line; measured ~0.2 s/row, a 429 s micro-batch
        #    equivalent at sf0.1). The batch path never sees this only
        #    because ahash_incremental checkpoints delta_h; a
        #    streaming delta has no such barrier. Predicates on
        #    generated attributes cannot push beneath the Generate, so
        #    routing the array itself through the struct closes the
        #    leak structurally (plan-gated in tests/test_plans.py).
        # __bands is referenced twice inside the generator expression
        # on purpose: SPARK-36718's duplicate-expensive guard keeps
        # the producing projection staged (one hash per row).
        per_band = F.transform(
            F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
            lambda i: F.struct(
                i.cast("int").alias("idx"),
                F.element_at(F.col("__bands"), (i + 1).cast("int")).alias(
                    "val"
                ),
                F.col("__bands").alias("arr"),
            ),
        )
        return (
            h.select(
                F.col("__id").alias(f"{prefix}_id"),
                F.posexplode_outer(per_band).alias("__pos", "__s"),
            )
            .select(
                f"{prefix}_id",
                F.col("__s.idx").alias("band_idx"),
                F.col("__s.val").alias("band_val"),
                F.col("__s.arr").alias(f"__b_{prefix}"),
            )
            .filter(F.col("band_val").isNotNull())
        )

    # first-matching-band emission instead of a candidate-wide distinct
    # (same as ahash_pairs): both sides carry all band values
    earlier = None
    for j in range(N_BANDS - 1):
        c = (F.col("band_idx") > j) & (
            F.element_at(F.col("__b_delta"), j + 1)
            == F.element_at(F.col("__b_base"), j + 1)
        )
        earlier = c if earlier is None else earlier | c

    # same two-tier semantics as pairs_from_band_table: a hot BASE
    # bucket (count > cap) would multiply every delta image that lands
    # in it by the bucket's size; the hot tier adds the sub-band
    # pigeonhole key on both sides instead. Hot keys come from the base
    # index (the big, epoch-materialized side) and are broadcast.
    #
    # SINGLE-PASS tiering (round 14): the r13 form split each side into
    # cold/hot branches and unioned two joins, which consumed every
    # side's scan+hash TWICE per screen — the batch path hides that
    # behind its delta checkpoint, but a STREAMING micro-batch re-ran
    # the delta hashing and the full index scan once per branch. One
    # CONDITIONAL explode folds both tiers into one relation instead:
    # cold rows carry the sentinel sub key (-1, 0), hot rows their
    # max_hamming+1 pigeonhole chunks, and ONE equi-join on
    # (band, val, sub_idx, sub_val) matches cold-with-cold and
    # hot-with-hot — the tier decision comes from the same broadcast
    # relation on both sides, so mixed-tier keys cannot meet. The
    # emit-once predicate needs no cold special-case: sentinel
    # sub_idx=-1 makes every (sub_idx > j) clause false, so
    # _earlier_sub_matches is vacuously false for cold pairs.
    base_b = banded(base_h, "base")
    delta_b = banded(delta_h, "delta")
    if hot is None:
        hot = hot_bucket_keys(base_h, hot_bucket_cap)
    width = _sub_band_width(max_hamming)
    mask = (1 << width) - 1

    def tiered(side: DataFrame, bands_col: str) -> DataFrame:
        tagged = side.join(F.broadcast(hot), ["band_idx", "band_val"], "left")
        others = F.filter(
            F.col(bands_col), lambda _x, j: j != F.col("band_idx")
        )
        comp = None
        for p in range(N_BANDS - 1):
            term = F.element_at(others, p + 1) * F.lit(1 << (p * BITS_PER_BAND))
            comp = term if comp is None else comp + term
        with_comp = tagged.withColumn(
            "__comp",
            F.when(F.col("__hot"), comp.cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        )
        subs_hot = F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("sub_idx"),
                    F.shiftright(F.col("__comp"), k * width)
                    .bitwiseAND(F.lit(mask))
                    .cast("bigint")
                    .alias("sub_val"),
                )
                for k in range(max_hamming + 1)
            ]
        )
        sentinel = F.array(
            F.struct(
                F.lit(-1).cast("int").alias("sub_idx"),
                F.lit(0).cast("bigint").alias("sub_val"),
            )
        )
        return (
            with_comp.withColumn(
                "__sub",
                F.explode(F.when(F.col("__hot"), subs_hot).otherwise(sentinel)),
            )
            .select(
                "*",
                F.col("__sub.sub_idx").alias("sub_idx"),
                F.col("__sub.sub_val").alias("sub_val"),
            )
            .drop("__sub", "__hot")
        )

    d = tiered(delta_b, "__b_delta").withColumnRenamed("__comp", "__comp_d")
    b = tiered(base_b, "__b_base").withColumnRenamed("__comp", "__comp_b")
    cand = (
        d.join(b, ["band_idx", "band_val", "sub_idx", "sub_val"])
        .filter(
            ~earlier
            & ~_earlier_sub_matches(
                F.col("__comp_d"), F.col("__comp_b"), F.col("sub_idx"), max_hamming
            )
        )
        .select("delta_id", "base_id", "__b_delta", "__b_base")
    )
    return cand.select(
        "delta_id",
        "base_id",
        hamming_from_bands(F.col("__b_delta"), F.col("__b_base")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def incremental_screen_from_band_tables(
    base_h: DataFrame,
    delta_h: DataFrame,
    max_hamming: int = 3,
    hot_bucket_cap: int = 1024,
) -> DataFrame:
    """:func:`incremental_screen_hits` plus the batch-only argmin: one
    row per MATCHED delta image, best base match first (hamming asc,
    base_id asc). The window is why the streaming twin consumes the
    hits form directly — row_number over an unbounded stream is not
    expressible, and the per-batch verdict belongs to the consumer
    there."""
    from pyspark.sql.window import Window

    scored = incremental_screen_hits(
        base_h, delta_h, max_hamming=max_hamming, hot_bucket_cap=hot_bucket_cap
    )
    w = Window.partitionBy("delta_id").orderBy(
        F.col("hamming").asc(), F.col("base_id").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("delta_id", "base_id", "hamming")
    )


# ---------------------------------------------------------------------------
# Real-pixel tier (numpy kernel over decoded media)
# ---------------------------------------------------------------------------


def ahash64(pixels) -> int:
    """The same hash over a real decoded image: grayscale, resample to
    SIDE x SIDE by block-mean pooling (integer), then the block-mean
    threshold. Accepts HxW or HxWxC uint8 arrays."""
    import numpy as np

    a = np.asarray(pixels)
    if a.ndim == 3:
        a = a.astype(np.uint32).sum(axis=2) // a.shape[2]
    a = a.astype(np.int64)
    h, w = a.shape
    if h < GRID or w < GRID:
        raise ValueError(f"image too small for aHash: {h}x{w}")
    # crop to a multiple of GRID, then block-mean straight to GRIDxGRID
    h8, w8 = h - h % GRID, w - w % GRID
    a = a[:h8, :w8]
    blocks = a.reshape(GRID, h8 // GRID, GRID, w8 // GRID).sum(axis=(1, 3))
    bits = (blocks * N_BLOCKS >= blocks.sum()).ravel()
    # Python-int accumulation: an int64 shift would overflow at bit 63
    return sum(1 << i for i, b in enumerate(bits) if b)


def bands_of(hash64: int) -> list[int]:
    """Split a 64-bit aHash into N_BANDS 16-bit band values (LSB-first,
    matching :func:`_text_band_kernel`)."""
    return [
        (hash64 >> (t * BITS_PER_BAND)) & ((1 << BITS_PER_BAND) - 1)
        for t in range(N_BANDS)
    ]


def image_ahash_kernel(
    df: DataFrame, blob_col: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """mapInPandas kernel: decode PNG blobs (operators/codecs — the
    in-tree, dependency-free decoder) and emit (id, band_idx, band_val,
    ok, err). Undecodable blobs quarantine as ok=0 rows with the error
    class, the same contract as the codec queries — one bad blob never
    kills a 100 TB pass."""
    from oic_options_chains_spark.operators.codecs import decode_png

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("band_idx", T.IntegerType()),
            T.StructField("band_val", T.LongType()),
            T.StructField("ok", T.IntegerType()),
            T.StructField("err", T.StringType()),
        ]
    )

    def bands(rid, blob):
        try:
            hashed = bands_of(ahash64(decode_png(bytes(blob))))
        except Exception as e:  # noqa: BLE001 — quarantine, never kill
            yield (rid, -1, -1, 0, type(e).__name__)
        else:
            for t, v in enumerate(hashed):
                yield (rid, t, v, 1, None)

    return row_kernel(df.select(id_col, blob_col), bands, schema)


def _tiled_codepoints(text: str):
    """numpy int64 codepoints of the text tiled to SIDE*SIDE chars —
    the EXACT tiling of the SQL oracle's ``_AHASH_CORE`` raster
    (queries/profiling.py: s = text + ' '; repeat(s, 1024 // len(s) +
    1)[:1024]), shared by the text and PNG corpus kernels so their
    hashes replay in the oracle."""
    import numpy as np

    s = text + " "
    reps = (SIDE * SIDE) // len(s) + 1
    tiled = (s * reps)[: SIDE * SIDE]
    return np.array(list(map(ord, tiled)), dtype=np.int64)


# brightness-shift applied to the sibling feed: uniform, clip-free
# (pixel range stays 30..229), so block-mean-vs-global-mean bits are
# bit-identical — the invariance that makes aHash survive re-encodes
MEDIA_SHIFT = 20
# deterministic corruption: every 97th image ships a truncated blob so
# the quarantine path is exercised by REAL decode failures, not mocks
MEDIA_CORRUPT_EVERY = 97


def media_corpus_bands(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(__id, __bands, err): REAL-pixel aHash bands for a synthetic PNG
    corpus, in ONE mapInPandas stage.

    Per document two grayscale 32x32 PNGs are built (img_id = doc_id*2
    and doc_id*2+1): pixel = 30 + (codepoint % 180) over the tiled
    text, the sibling brightened by ``MEDIA_SHIFT``. Each raster is
    ENCODED to real PNG bytes and DECODED back through the in-tree
    codec (operators/codecs — CRC-verified chunks, bounded inflate)
    before hashing with :func:`ahash64` — the bytes->pixels->hash path
    a production media table runs; only the synthesis step stands in
    for reading a blob column. Every ``MEDIA_CORRUPT_EVERY``-th image
    is truncated to its first 8 bytes and must QUARANTINE (err set,
    NULL bands) through the codec's own validation, never kill the
    pass.

    Spark-side shape: the kernel emits (id, 4-int band array) — the
    heavy media bytes never leave the Python worker, and the returned
    relation is index-sized, so the downstream band join shuffles
    KBs/image-corpus, not the corpus itself. At 100 TB this is the
    whole design: decode locality in the kernel tier, JVM equi-joins on
    the index."""
    import numpy as np

    from oic_options_chains_spark.operators.codecs import decode_png, encode_png

    schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("__bands", T.ArrayType(T.LongType())),
            T.StructField("err", T.StringType()),
        ]
    )

    def bands(rid, text):
        cp = _tiled_codepoints(text if text is not None else "")
        base = (30 + cp % 180).astype(np.uint8).reshape(SIDE, SIDE)
        for feed in (0, 1):
            img_id = int(rid) * 2 + feed
            blob = encode_png(base + np.uint8(MEDIA_SHIFT * feed))
            if img_id % MEDIA_CORRUPT_EVERY == 0:
                blob = blob[:8]
            try:
                hashed = bands_of(ahash64(decode_png(blob)))
            except Exception as e:  # noqa: BLE001 — quarantine
                yield (img_id, None, type(e).__name__)
            else:
                yield (img_id, hashed, None)

    # decode+hash is CPU-dense per row: take parallelism from an explicit
    # exchange when the scan is under-split (same adaptive rule as
    # ahash_band_table — skip it when the source is already parallel)
    from oic_options_chains_spark.operators.similarity import _probe_partitions

    src = docs
    if not docs.isStreaming:
        want = _probe_partitions(docs)
        if docs.rdd.getNumPartitions() < want:
            src = docs.repartition(want, F.col(id_col))
    return row_kernel(src.select(id_col, text_col), bands, schema)


def media_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """The end-to-end media dedup pipeline over REAL PNG bytes: one
    mapInPandas stage (decode + hash, :func:`media_corpus_bands`), then
    pure JVM relational work — banded candidate equi-join, Hamming
    verify, keeper verdicts, quarantine accounting.

    Returns one row per image: (img_id, ok, kept, dup_of, hamming,
    err). ok=0 rows are quarantined blobs (kept=0, err set). kept=1
    iff no DECODABLE image with a smaller id verifies within
    ``max_hamming``; dup_of is the best such earlier image (hamming
    asc, id asc) — first-arrival-wins, the same verdict rule as the
    incremental screens."""
    from pyspark.sql.window import Window

    hashed = media_corpus_bands(docs, id_col=id_col, text_col=text_col)
    # the kernel output is (id, 4 ints, err) — checkpoint it once: the
    # pair join, the verdict join and the quarantine rows all consume
    # it, and the barrier keeps inferred join-key filters from pushing
    # a re-decode into per-scan-row predicates (the ahash_pairs lesson)
    hashed = hashed.localCheckpoint(eager=True)
    ok = hashed.filter(F.col("__bands").isNotNull()).select("__id", "__bands")
    pairs = pairs_from_band_table(ok, max_hamming=max_hamming)
    w = Window.partitionBy("doc_b").orderBy(
        F.col("hamming").asc(), F.col("doc_a").asc()
    )
    best = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("doc_b").alias("__id"),
            F.col("doc_a").alias("dup_of"),
            "hamming",
        )
    )
    return hashed.join(best, "__id", "left").select(
        F.col("__id").alias("img_id"),
        F.when(F.col("err").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int")
        .alias("ok"),
        F.when(
            F.col("err").isNull() & F.col("dup_of").isNull(), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
        F.col("dup_of").cast("bigint").alias("dup_of"),
        F.col("hamming").cast("bigint").alias("hamming"),
        "err",
    )
