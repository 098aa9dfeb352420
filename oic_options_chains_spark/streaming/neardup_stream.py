"""Streaming NEAR-duplicate detection: OPH/LSH sketches in the stream,
bucket ownership in keyed state.

The batch dedup tier (operators/minhash) finds near-dup pairs by a
bucket self-join — a batch-only shape (stream-stream self-joins need
watermarks both sides and still can't see across micro-batches without
unbounded state on BOTH sides). The streaming form splits the work the
way the engine wants it split:

1. Sketching is a STATELESS projection: ``oph_bands_expr`` builds each
   document's densified OPH band keys row-locally with higher-order
   functions (no shuffle, no Python, whole-stage codegen) — a document
   needs only its own text for its sketch.
2. Ownership is KEYED STATE: the stream explodes to (band, band_key)
   rows, and an ``applyInPandasWithState`` kernel keeps one long per
   bucket — the first document to claim it. Later documents that hit
   an owned bucket emit (doc_id, dup_of=owner). State is O(distinct
   buckets) x one long, hash-partitioned like any streaming agg, with
   the standard TTL trade for unbounded corpora.

Cross-batch semantics: a document streamed in batch 7 is checked
against bucket owners from batches 1-6 — the "is this new crawl page a
near-dup of ANYTHING seen so far" gate that a per-batch self-join
cannot express. Within a batch the owner is the min doc_id (the batch
tier's keeper rule); across batches it is first-arrival, which equals
the global min when ingest files arrive id-ordered — the equivalence
``tests/test_neardup_stream.py`` pins against the batch truth.

A document sharing k bands with its duplicate emits k candidate rows
(one per bucket); the consumer takes min(dup_of) per doc downstream —
kept OUT of this operator so its output stays append-mode composable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from oic_options_chains_spark.operators.minhash import oph_bands_expr


def bucket_owner_pairs(
    bands: DataFrame,
    doc_col: str = "doc_id",
    ttl_minutes: int | None = None,
) -> DataFrame:
    """(band, band_key, doc_id, dup_of) from a streaming (band,
    band_key, doc_id) relation: the first document per bucket becomes
    its OWNER (emitting nothing); every later document hitting the
    bucket emits one row pointing at the owner. Within a micro-batch
    the min doc_id wins ownership and the batch's other docs point at
    it — deterministic regardless of shuffle order."""
    out_schema = "band int, band_key string, doc_id long, dup_of long"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )

    def owner(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        docs: list[int] = []
        for pdf in pdfs:
            docs.extend(int(d) for d in pdf[doc_col])
        if not docs:
            return
        docs = sorted(set(docs))
        if state.exists:
            own = int(state.get[0])
            later = [d for d in docs if d != own]
        else:
            own, later = docs[0], docs[1:]
            state.update((own,))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        if later:
            yield pd.DataFrame(
                {
                    "band": key[0],
                    "band_key": key[1],
                    "doc_id": later,
                    "dup_of": own,
                }
            )

    return bands.groupBy("band", "band_key").applyInPandasWithState(
        owner,
        outputStructType=out_schema,
        stateStructType="owner long",
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bins: int = 8,
    rows_per_band: int = 4,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """End-to-end streaming near-dup candidates from a document stream:
    stateless OPH sketch projection -> explode bands -> stateful bucket
    ownership. Output (band, band_key, doc_id, dup_of)."""
    bands = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(
                oph_bands_expr(
                    F.col(text_col), num_bins=num_bins, rows_per_band=rows_per_band
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.band").alias("band"),
            F.col("s.band_key").alias("band_key"),
        )
    )
    return bucket_owner_pairs(bands, "doc_id", ttl_minutes=ttl_minutes)


def verified_bucket_owner_pairs(
    bands: DataFrame,
    doc_col: str = "doc_id",
    max_hamming: int = 3,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Owner-model keyed state WITH in-kernel Hamming verification — the
    precision upgrade of :func:`bucket_owner_pairs` for hash families
    whose full signature fits in a few longs (aHash: 4 x 16-bit bands).

    ``bands`` must carry the document's full hash as four long columns
    ``__hb1..__hb4`` alongside (band, band_key, doc_id). State per
    bucket grows from one long to five (owner id + its hash) — still
    O(distinct buckets), independent of corpus size and of skew. Later
    documents hitting an owned bucket emit ONLY when their hash
    verifies at <= ``max_hamming`` against the owner's, with the true
    distance in the output.

    Why it matters under skew: the unverified form emits one candidate
    per (doc, owned-bucket) hit, so a corpus-wide biased band (the
    Zipf-template shape that drove the batch tier's hot-bucket fix)
    floods the candidate stream with bucket-size false positives that
    some downstream join must clean up. Verification is per-candidate
    O(1) popcount INSIDE the state kernel the candidate already visits,
    so the skewed band costs linear work and emits ~nothing."""
    out_schema = (
        "band int, band_key string, doc_id long, dup_of long, hamming long"
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    hb_cols = ["__hb1", "__hb2", "__hb3", "__hb4"]

    def owner(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows: dict[int, tuple[int, int, int, int]] = {}
        for pdf in pdfs:
            for vals in zip(pdf[doc_col], *(pdf[c] for c in hb_cols)):
                rows[int(vals[0])] = tuple(int(v) for v in vals[1:])
        if not rows:
            return
        ids = sorted(rows)
        if state.exists:
            st = state.get
            own, own_h = int(st[0]), tuple(int(x) for x in st[1:5])
            later = ids
        else:
            own, later = ids[0], ids[1:]
            own_h = rows[own]
            state.update((own, *own_h))
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        out = []
        for d in later:
            if d == own:
                continue
            ham = sum(bin(x ^ y).count("1") for x, y in zip(rows[d], own_h))
            if ham <= max_hamming:
                out.append((key[0], key[1], d, own, ham))
        if out:
            yield pd.DataFrame(
                out, columns=["band", "band_key", "doc_id", "dup_of", "hamming"]
            )

    return bands.groupBy("band", "band_key").applyInPandasWithState(
        owner,
        outputStructType=out_schema,
        stateStructType=(
            "owner long, b1 long, b2 long, b3 long, b4 long"
        ),
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_image_near_dup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_minutes: int | None = None,
    verify: bool = False,
    max_hamming: int = 3,
) -> DataFrame:
    """Streaming PERCEPTUAL near-dup candidates: the aHash twin of
    :func:`streaming_near_dup`, reusing the same keyed-state bucket
    ownership. The hash tier (operators/phash.ahash_band_table) is one
    stateless Arrow kernel, so it composes with a streaming source
    unchanged (no checkpoint barrier is needed here —
    the barrier in the BATCH pair path exists to shield a self-join
    this operator doesn't have; ownership lives in keyed state
    instead). Cross-batch semantics match q_ahash_incremental's
    delta-vs-base contract: a batch-7 image is checked against every
    band bucket owned by batches 1-6. Output (band, band_key, doc_id,
    dup_of); band_key is the 16-bit band value rendered as a string to
    share the state kernel's schema.

    ``verify=True`` routes through :func:`verified_bucket_owner_pairs`:
    the owner's full hash rides in state (5 longs/bucket) and every
    later document is Hamming-checked against it in the kernel, so the output
    is true perceptual dups (with distance) rather than band-collision
    candidates — the precision knob for skewed streams where one biased
    band would otherwise flood the candidate output."""
    from oic_options_chains_spark.operators.phash import ahash_band_table

    # posexplode_OUTER, not posexplode: a non-outer Generate lets the
    # optimizer infer `size(__bands) > 0` and push it down toward the
    # scan. Outer generates imply no constraint; the null-guard below
    # filters the GENERATED attribute, which can never push beneath the
    # Generate.
    hashed = ahash_band_table(docs, id_col=id_col, text_col=text_col)
    exploded = hashed.select(
        F.col("__id").cast("long").alias("doc_id"),
        F.col("__bands"),
        F.posexplode_outer("__bands").alias("band", "__bv"),
    ).filter(F.col("__bv").isNotNull())
    if not verify:
        bands = exploded.select(
            "doc_id",
            F.col("band").cast("int").alias("band"),
            F.col("__bv").cast("string").alias("band_key"),
        )
        return bucket_owner_pairs(bands, "doc_id", ttl_minutes=ttl_minutes)
    bands = exploded.select(
        "doc_id",
        F.col("band").cast("int").alias("band"),
        F.col("__bv").cast("string").alias("band_key"),
        *[
            F.element_at("__bands", t + 1).cast("long").alias(f"__hb{t + 1}")
            for t in range(4)
        ],
    )
    return verified_bucket_owner_pairs(
        bands, "doc_id", max_hamming=max_hamming, ttl_minutes=ttl_minutes
    )
