"""Multimodal kernel tests over real blobs built with the in-tree codecs
(``operators/codecs.py``): schemas, Arrow batches, flatMap frame
explode, determinism and the quarantine shape of undecodable rows."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from oic_options_chains_spark.operators.codecs import (
    decode_jpeg,
    decode_png,
    encode_avi_mjpeg,
    encode_jpeg,
    encode_png,
)
from oic_options_chains_spark.operators.multimodal import (
    FRAME_SAMPLES,
    IMAGE_FEATURES,
    MEDIA,
    decode_media,
    resize_images,
    sample_frames,
)


def _image(i: int) -> np.ndarray:
    """A seeded (h, w) gray raster; sizes vary with ``i``."""
    rng = np.random.RandomState(i)
    return rng.randint(0, 256, size=(8 + i, 16 + i)).astype(np.uint8)


def _frames(i: int) -> list[np.ndarray]:
    """``i`` seeded 16x16 RGB frames."""
    rng = np.random.RandomState(100 + i)
    return [rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8) for _ in range(i)]


@pytest.fixture(scope="module")
def media(spark):
    """Opaque blobs that no codec accepts."""
    rows = [
        (i, "image" if i % 3 else "video", bytes([i % 251]) * (300 + i), ("raw", 64, 64, None, None))
        for i in range(1, 21)
    ]
    return spark.createDataFrame(rows, MEDIA).repartition(4).cache()


@pytest.fixture(scope="module")
def images(spark):
    rows = [
        (i, "image", encode_png(_image(i)), ("png", 16 + i, 8 + i, None, None))
        for i in range(1, 21)
    ]
    return spark.createDataFrame(rows, MEDIA).repartition(4).cache()


@pytest.fixture(scope="module")
def videos(spark):
    rows = [
        (i, "video", encode_avi_mjpeg(_frames(i), quality=90), ("avi", 16, 16, None, None))
        for i in range(1, 6)
    ]
    return spark.createDataFrame(rows, MEDIA).repartition(2).cache()


def test_decode_media_schema_and_determinism(images):
    feats = decode_media(images, feature_dims=8)
    assert feats.schema == IMAGE_FEATURES
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 20
    # deterministic: same bytes -> same stats, across partitions/runs
    again = {r.media_id: r for r in decode_media(images, feature_dims=8).collect()}
    assert all(rows[k] == again[k] for k in rows)
    assert all(len(r.feature) == 8 for r in rows.values())
    assert all((r.width, r.height) == (16 + k, 8 + k) for k, r in rows.items())
    assert rows[3].mean_luma == pytest.approx(_image(3).mean() / 255.0)


def test_real_decode_quarantines_undecodable_blobs(media):
    """These fixture blobs are not images, so every row keeps its id
    with NULL stats (decode_media) or drops (resize_images) — the
    quarantine shape, never an exception mid-job."""
    feats = decode_media(media).collect()
    assert len(feats) == 20
    assert all(r.width is None and r.feature is None for r in feats)
    assert resize_images(media, 32, 32).count() == 0


def test_resize_preserves_ids_and_changes_bytes(images):
    # 7x5 is smaller than every input, so every row really resamples
    resized = resize_images(images, 7, 5)
    rows = resized.collect()
    assert sorted(r.media_id for r in rows) == list(range(1, 21))
    for r in rows:
        px = decode_png(bytes(r.content))
        assert px.shape[:2] == (5, 7)
        assert bytes(r.content) != encode_png(_image(r.media_id))


def test_sample_frames_flatmap(videos):
    frames = sample_frames(videos, every_n=2)
    assert frames.schema == FRAME_SAMPLES
    by_id = frames.groupBy("media_id").count().collect()
    # video i has i frames -> sampled idx {0, 2, ...} = ceil(i / 2) rows
    counts = {r.media_id: r["count"] for r in by_id}
    assert counts == {i: (i + 1) // 2 for i in range(1, 6)}
    # frame digests are of the decoded pixels (plumbing is faithful)
    r = frames.filter((F.col("media_id") == 3) & (F.col("frame_idx") == 2)).collect()[0]
    jpeg = encode_jpeg(_frames(3)[2], quality=90)
    assert r.frame_digest == hashlib.md5(decode_jpeg(jpeg).tobytes()).hexdigest()


def test_sniff_format_on_genuine_magic_bytes(spark):
    import struct

    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.multimodal import (
        png_dimensions,
        sniff_format,
        wav_sample_rate,
    )

    # a genuine minimal PNG header (IHDR 640x480) and WAV header (44100 Hz)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00"
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHH", 16, 1, 1)
        + struct.pack("<I", 44100)
    )
    rows = [
        (1, bytearray(png)),
        (2, bytearray(b"\xff\xd8\xff\xe0 jpeg payload")),
        (3, bytearray(b"GIF89a...")),
        (4, bytearray(wav)),
        (5, bytearray(b"ID3\x04 mp3 payload")),
        (6, bytearray(b"%PDF-1.7 ...")),
        (7, bytearray(b"plain text, no magic")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    dims = png_dimensions(F.col("content"))
    got = {
        r.media_id: r
        for r in df.select(
            "media_id",
            sniff_format(F.col("content")).alias("fmt"),
            dims["width"].alias("w"),
            dims["height"].alias("h"),
            wav_sample_rate(F.col("content")).alias("sr"),
        ).collect()
    }
    assert [got[i].fmt for i in range(1, 8)] == [
        "png", "jpeg", "gif", "riff", "mp3", "pdf", "unknown"
    ]
    assert (got[1].w, got[1].h) == (640, 480)
    assert got[4].sr == 44100
    # non-matching kinds stay NULL, never garbage
    assert got[2].w is None and got[1].sr is None and got[7].w is None


def test_wav_chunk_manifest_roundtrip(spark):
    # A hand-built canonical WAV header: 16000 Hz mono 16-bit with a
    # 300-byte payload -> 150 samples -> chunks [0,64) [64,128) [128,150)
    import struct

    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.multimodal import wav_chunk_manifest

    rate, payload = 16000, b"\x00" * 300
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(payload))
    )
    rows = [
        (1, hdr + payload),
        (2, b"not a wav at all"),          # dropped: no RIFF/WAVE magic
        (3, hdr[: len(hdr) - 4] + struct.pack("<I", 0)),  # zero payload
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, content binary")
    got = wav_chunk_manifest(df, "content", "doc_id", samples_per_chunk=64)
    chunks = [(r["chunk_idx"], r["start_sample"], r["end_sample"])
              for r in got.filter(F.col("doc_id") == 1).orderBy("chunk_idx").collect()]
    assert chunks == [(0, 0, 64), (1, 64, 128), (2, 128, 150)]
    assert got.filter(F.col("doc_id").isin(2, 3)).count() == 0
    one = got.filter(F.col("doc_id") == 1).first()
    assert one["sample_rate"] == rate and one["n_samples"] == 150


def test_wav_chunk_manifest_survives_zero_block_align(spark):
    import struct

    from oic_options_chains_spark.operators.multimodal import wav_chunk_manifest

    hdr = (
        b"RIFF" + struct.pack("<I", 36 + 100) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 0, 0, 16)  # block_align=0
        + b"data" + struct.pack("<I", 100)
    )
    df = spark.createDataFrame(
        [(1, hdr + b"\x00" * 100)], "doc_id bigint, content binary"
    )
    # malformed header must yield no chunks, not an astronomical explode
    assert wav_chunk_manifest(df, "content", "doc_id").count() == 0


def test_patch_grid_clamps_edges(spark):
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.multimodal import patch_grid

    dims = spark.createDataFrame(
        [(1, 33, 65), (2, 32, 32)], "media_id INT, width INT, height INT"
    )
    got = {
        (r.media_id, r.patch_row, r.patch_col): (r.x0, r.y0, r.patch_w, r.patch_h)
        for r in patch_grid(dims, patch=32).collect()
    }
    # 33x65 -> 2 cols (32 + 1 wide), 3 rows (32 + 32 + 1 tall)
    assert len([k for k in got if k[0] == 1]) == 6
    assert got[(1, 0, 0)] == (0, 0, 32, 32)
    assert got[(1, 0, 1)] == (32, 0, 1, 32)
    assert got[(1, 2, 0)] == (0, 64, 32, 1)
    assert got[(1, 2, 1)] == (32, 64, 1, 1)
    # exact-multiple image -> single full patch
    assert [k for k in got if k[0] == 2] == [(2, 0, 0)]
    assert got[(2, 0, 0)] == (0, 0, 32, 32)


def test_gif_and_bmp_dimensions(spark):
    import struct as _struct

    from oic_options_chains_spark.operators.multimodal import (
        bmp_dimensions,
        gif_dimensions,
    )

    gif = b"GIF89a" + _struct.pack("<HH", 320, 200) + b"\x00" * 10
    bmp = (
        b"BM" + b"\x00" * 16 + _struct.pack("<ii", 640, -480) + b"\x00" * 10
    )
    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(bmp)), (3, bytearray(b"neither"))],
        "media_id long, content binary",
    )
    g = gif_dimensions(F.col("content"))
    b = bmp_dimensions(F.col("content"))
    got = {
        r.media_id: (r.gw, r.gh, r.bw, r.bh)
        for r in df.select(
            "media_id",
            g["width"].alias("gw"),
            g["height"].alias("gh"),
            b["width"].alias("bw"),
            b["height"].alias("bh"),
        ).collect()
    }
    assert got[1] == (320, 200, None, None)
    # negative BMP height means top-down rows; magnitude reported
    assert got[2] == (None, None, 640, 480)
    assert got[3] == (None, None, None, None)


def test_decompress_text_kernel_and_bomb_guard(spark):
    import gzip as _gzip
    import zlib as _zlib

    from oic_options_chains_spark.operators.multimodal import decompress_text

    body = "hello compressed corpus éà"
    rows = [
        (1, bytearray(_gzip.compress(body.encode()))),
        (2, bytearray(_zlib.compress(b"zlib stream text"))),
        (3, bytearray(b"plain uncompressed")),            # not a stream
        (4, bytearray(_gzip.compress(b"\xff\xfe garbage")[:-4])),  # truncated
        (5, bytearray(_gzip.compress(b"\x00" * (1 << 22)))),  # 4 MiB zeros
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r for r in decompress_text(df, max_bytes=1 << 20).collect()}
    assert got[1].text == body and got[1].n_raw_bytes == len(rows[0][1])
    assert got[2].text == "zlib stream text"
    assert got[3].text is None
    assert got[4].text is None
    # the 4 MiB payload exceeds the 1 MiB guard: quarantined, not OOM'd
    assert got[5].text is None


def test_decompress_text_truncation_multimember_and_null(spark):
    """Review regressions: (1) a gzip stream truncated in its TRAILER
    must quarantine, not return silently-complete-looking text; (2)
    concatenated gzip members (the WARC shape) must ALL decode; (3) a
    NULL content cell quarantines instead of failing the task."""
    import gzip as _gzip

    from oic_options_chains_spark.operators.multimodal import decompress_text

    members = _gzip.compress("record one. ".encode()) + _gzip.compress(
        "record two.".encode()
    )
    trunc_trailer = _gzip.compress(b"perfectly valid ascii text")[:-6]
    rows = [
        (1, bytearray(members)),
        (2, bytearray(trunc_trailer)),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r.text for r in decompress_text(df).collect()}
    assert got[1] == "record one. record two."
    assert got[2] is None
    assert got[3] is None


def test_bmp_int32_min_height_is_null_not_wrapped(spark):
    import struct as _struct

    from oic_options_chains_spark.operators.multimodal import bmp_dimensions

    bmp = b"BM" + b"\x00" * 16 + _struct.pack("<ii", 10, -(2**31)) + b"\x00" * 4
    df = spark.createDataFrame([(1, bytearray(bmp))], "media_id long, content binary")
    b = bmp_dimensions(F.col("content"))
    r = df.select(b["width"].alias("w"), b["height"].alias("h")).collect()[0]
    assert r.w == 10 and r.h is None


def test_truncated_gif_bmp_headers_are_null_not_garbage(spark):
    """ADVICE r5: a truncated blob whose magic survives must yield NULL
    dims, never a partial-byte _le_int assembly."""
    import struct as _struct

    from oic_options_chains_spark.operators.multimodal import (
        bmp_dimensions,
        gif_dimensions,
    )

    rows = [
        (1, bytearray(b"GIF89a\x40")),            # magic + 1 width byte
        (2, bytearray(b"GIF89a" + _struct.pack("<H", 320) + b"\xc8")),  # half height
        (3, bytearray(b"BM" + b"\x00" * 16 + b"\x80\x02")),  # dims cut mid-width
        (4, bytearray(b"BM")),                    # bare magic
        # exactly at the minimum lengths: still decodes
        (5, bytearray(b"GIF87a" + _struct.pack("<HH", 7, 9))),
        (6, bytearray(b"BM" + b"\x00" * 16 + _struct.pack("<ii", 3, 4))),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    g = gif_dimensions(F.col("content"))
    b = bmp_dimensions(F.col("content"))
    got = {
        r.media_id: (r.gw, r.gh, r.bw, r.bh)
        for r in df.select(
            "media_id",
            g["width"].alias("gw"),
            g["height"].alias("gh"),
            b["width"].alias("bw"),
            b["height"].alias("bh"),
        ).collect()
    }
    assert got[1] == (None, None, None, None)
    assert got[2] == (None, None, None, None)
    assert got[3] == (None, None, None, None)
    assert got[4] == (None, None, None, None)
    assert got[5] == (7, 9, None, None)
    assert got[6] == (None, None, 3, 4)


def _jseg(marker, payload):
    import struct as _struct

    return bytes([0xFF, marker]) + _struct.pack(">H", len(payload) + 2) + payload


def _jsof(marker, w, h):
    import struct as _struct

    return _jseg(
        marker,
        bytes([8]) + _struct.pack(">HH", h, w) + bytes.fromhex("03011100021101031101"),
    )


def test_jpeg_dimensions_sof_marker_walk(spark):
    """Bounded SOF walk: baseline/progressive/extended-sequential SOFs
    behind APP0/EXIF/DQT/DHT preambles parse; every malformed shape
    (no SOF, EOI/SOS first, truncation, bad marker byte, walk past the
    segment bound) yields NULL — never partial garbage."""
    from oic_options_chains_spark.operators.multimodal import jpeg_dimensions

    app0 = _jseg(0xE0, bytes.fromhex("4A46494600010100000100010000"))
    exif = _jseg(0xE1, b"Exif\x00\x00" + b"\x00" * 5000)
    dqt = _jseg(0xDB, bytes(65))
    dht = _jseg(0xC4, bytes(20))  # C4 is DHT, not a SOF
    blobs = [
        (1, b"\xff\xd8" + app0 + dqt + _jsof(0xC0, 640, 480)),
        (2, b"\xff\xd8" + app0 + exif + dqt + _jsof(0xC2, 1024, 768)),
        (3, b"\xff\xd8" + app0 + dht + _jsof(0xC1, 31, 17)),
        (4, b"\xff\xd8" + app0 + dqt),  # no SOF then EOF
        (5, b"\xff\xd8" + app0 + b"\xff\xd9"),  # EOI before SOF
        (6, (b"\xff\xd8" + app0 + _jsof(0xC0, 9, 9))[:20]),  # cut mid-walk
        (7, b"\xff\xd8" + b"\xff\xff" + app0[1:] + _jsof(0xC0, 5, 7)),  # fill byte
        (8, b"not a jpeg"),
        (9, b"\xff\xd8" + app0 + b"\x00\x11" + _jsof(0xC0, 3, 3)),  # non-FF marker
        # 30 COM segments exceed the 24-marker walk bound: documented NULL
        (10, b"\xff\xd8" + b"".join(_jseg(0xFE, b"xx") for _ in range(30)) + _jsof(0xC0, 2, 2)),
        # SOS before any SOF: dims unrecoverable without entropy decode
        (11, b"\xff\xd8" + app0 + _jseg(0xDA, bytes(10)) + _jsof(0xC0, 4, 4)),
        # zero-payload segment length (< 2) is malformed
        (12, b"\xff\xd8" + b"\xff\xe0\x00\x01" + _jsof(0xC0, 4, 4)),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in blobs], "media_id long, content binary"
    )
    d = jpeg_dimensions(F.col("content"))
    got = {
        r.media_id: (r.w, r.h)
        for r in df.select("media_id", d["width"].alias("w"), d["height"].alias("h")).collect()
    }
    assert got[1] == (640, 480)
    assert got[2] == (1024, 768)
    assert got[3] == (31, 17)
    for i in (4, 5, 6, 8, 9, 10, 11, 12):
        assert got[i] == (None, None), f"blob {i} must quarantine"
    assert got[7] == (5, 7)


def test_jpeg_dimensions_plan_stays_jvm_side(spark):
    """The marker walk must compile to a constant-size JVM plan: no
    Python (BatchEvalPython/ArrowEvalPython) regardless of the segment
    bound."""
    from oic_options_chains_spark.operators.multimodal import jpeg_dimensions

    df = spark.createDataFrame([(1, bytearray(b"\xff\xd8"))], "i long, content binary")
    d = jpeg_dimensions(F.col("content"), max_segments=64)
    plan = (
        df.select(d["width"], d["height"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
