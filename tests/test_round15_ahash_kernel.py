"""The aHash text band kernel against the scalar hash.

``ahash_band_table`` runs ``_text_band_kernel`` (one numpy block-sum +
threshold pass per Arrow batch) on every input, batch or streaming. The
scalar path the media pipeline runs — ``bands_of(ahash64(raster))`` over
the same tiled code-point raster — is an exact, independent reference:
this pins kernel == scalar row-for-row on real corpus text plus the
awkward shapes (NULL text, empty text, short text, non-ASCII), and on a
streaming source."""

from __future__ import annotations

import json

from oic_options_chains_spark.operators.phash import (
    SIDE,
    _text_band_kernel,
    _tiled_codepoints,
    ahash64,
    ahash_band_table,
    bands_of,
)


def _as_map(df):
    return {
        r["__id"]: (None if r["__bands"] is None else tuple(r["__bands"]))
        for r in df.collect()
    }


def _scalar_map(rows):
    return {
        rid: (
            None
            if text is None
            else tuple(
                bands_of(ahash64(_tiled_codepoints(text).reshape(SIDE, SIDE)))
            )
        )
        for rid, text in rows
    }


EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "a"),
    (4, "héllo wörld — ünïcode"),
    (5, "x" * 5000),
]


def test_text_band_kernel_matches_scalar_ahash(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = _as_map(_text_band_kernel(d, "doc_id", "text"))
    want = _scalar_map((r["doc_id"], r["text"]) for r in d.collect())
    assert got == want
    assert len(got) > 0


def test_text_band_kernel_edge_shapes(spark):
    d = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    got = _as_map(_text_band_kernel(d, "doc_id", "text"))
    assert got == _scalar_map(EDGE_ROWS)
    assert got[1] is None


def test_ahash_band_table_streaming_matches_scalar_ahash(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i, (rid, text) in enumerate(EDGE_ROWS):
        (src / f"f{i}.json").write_text(
            json.dumps({"doc_id": rid, "text": text})
        )
    stream = spark.readStream.schema("doc_id bigint, text string").json(
        str(src)
    )
    out = str(tmp_path / "out")
    q = (
        ahash_band_table(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert _as_map(spark.read.parquet(out)) == _scalar_map(EDGE_ROWS)
