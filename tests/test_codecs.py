"""Real PNG/WAV codecs: roundtrips, all five PNG filters, corruption
detection, and the Spark media kernels end-to-end."""

import struct
import zlib

import numpy as np
import pytest

from oic_options_chains_spark.operators.codecs import (
    decode_png,
    decode_wav,
    encode_png,
    luma,
    resize_nearest,
    wav_stats,
)


def _gradient(h, w, c):
    y, x = np.mgrid[0:h, 0:w]
    chans = [(13 * y + 7 * x + 29 * k) % 256 for k in range(c)]
    return np.stack(chans, axis=-1).astype(np.uint8)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_png_roundtrip_all_color_types(c):
    img = _gradient(23, 17, c)
    assert np.array_equal(decode_png(encode_png(img)), img)


def _apply_filter(f, row, prev, bpp):
    """Forward PNG filter (encoder side) — reference implementation for
    exercising the decoder's unfilter paths."""
    out = np.zeros_like(row, dtype=np.int32)
    r = row.astype(np.int32)
    p = prev.astype(np.int32)
    for x in range(len(row)):
        a = r[x - bpp] if x >= bpp else 0
        b = p[x]
        cc = p[x - bpp] if x >= bpp else 0
        if f == 0:
            pred = 0
        elif f == 1:
            pred = a
        elif f == 2:
            pred = b
        elif f == 3:
            pred = (a + b) >> 1
        else:
            q = a + b - cc
            pa, pb, pc = abs(q - a), abs(q - b), abs(q - cc)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
        out[x] = (r[x] - pred) & 0xFF
    return out.astype(np.uint8)


def test_png_decoder_handles_all_five_filters():
    img = _gradient(10, 9, 3)
    h, w, c = img.shape
    rows = []
    for y in range(h):
        f = y % 5  # cycle None/Sub/Up/Average/Paeth
        prev = img[y - 1].reshape(-1) if y else np.zeros(w * c, np.uint8)
        rows.append(bytes([f]) + _apply_filter(f, img[y].reshape(-1), prev, c).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(blob), img)


def test_png_crc_corruption_fails_loudly():
    blob = bytearray(encode_png(_gradient(8, 8, 3)))
    blob[40] ^= 0xFF  # flip a bit inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(blob))


def test_png_rejects_non_png_and_palette():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\xff\xd8\xffJPEGISH" + b"\x00" * 50)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)  # palette type 3

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 20))
    )
    with pytest.raises(ValueError, match="color type"):
        decode_png(blob)


def test_resize_nearest_picks_floor_indices():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = resize_nearest(img, 2, 2)
    assert small[:, :, 0].tolist() == [[0, 2], [8, 10]]
    big = resize_nearest(img, 8, 8)
    assert big.shape == (8, 8, 1)
    assert big[0, 0, 0] == 0 and big[7, 7, 0] == 15


def test_luma_rec601_integer():
    red = np.zeros((1, 1, 3), np.uint8)
    red[0, 0] = (255, 0, 0)
    assert luma(red)[0, 0] == (299 * 255) // 1000
    gray = np.full((2, 2, 1), 77, np.uint8)
    assert (luma(gray) == 77).all()


def _wav_blob(rate=16000, samples=(0, 1000, -1000, 32767, -32768)):
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_wav_roundtrip_and_stats():
    blob = _wav_blob()
    rate, n_ch, samples = decode_wav(blob)
    assert (rate, n_ch) == (16000, 1)
    assert samples.tolist() == [0, 1000, -1000, 32767, -32768]
    r, n, peak, mean_e3 = wav_stats(blob)
    assert (r, n, peak) == (16000, 5, 32768)
    assert mean_e3 == (1000 * (0 + 1000 + 1000 + 32767 + 32768)) // 5


def test_wav_rejects_non_pcm():
    blob = bytearray(_wav_blob())
    blob[20] = 3  # format tag IEEE float
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(blob))


def test_decode_media_real_kernel(spark):
    from oic_options_chains_spark.operators.multimodal import decode_media

    img = _gradient(12, 20, 3)
    rows = [
        (1, "image", bytearray(encode_png(img)), None),
        (2, "image", bytearray(b"not an image"), None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, meta string"
    )
    got = {r.media_id: r for r in decode_media(df).collect()}
    assert (got[1].width, got[1].height) == (20, 12)
    expected_luma = float(luma(img).mean()) / 255.0
    assert got[1].mean_luma == pytest.approx(expected_luma)
    assert len(got[1].feature) == 8
    assert got[2].width is None and got[2].feature is None


def test_resize_images_real_kernel(spark):
    from oic_options_chains_spark.operators.multimodal import resize_images

    img = _gradient(16, 16, 4)
    df = spark.createDataFrame(
        [(7, bytearray(encode_png(img))), (8, bytearray(b"garbage"))],
        "media_id long, content binary",
    )
    out = resize_images(df, 4, 6).collect()
    assert [r.media_id for r in out] == [7]  # garbage row dropped
    resized = decode_png(bytes(out[0].content))
    assert resized.shape == (6, 4, 4)
    assert np.array_equal(resized, resize_nearest(img, 4, 6))


def test_decode_audio_kernel(spark):
    from oic_options_chains_spark.operators.multimodal import decode_audio

    df = spark.createDataFrame(
        [(1, bytearray(_wav_blob())), (2, bytearray(b"nope"))],
        "media_id long, content binary",
    )
    got = {r.media_id: r for r in decode_audio(df).collect()}
    assert got[1].sample_rate == 16000 and got[1].n_samples == 5
    assert got[1].peak_abs == 32768
    assert got[2].sample_rate is None


def test_png_filters_survive_byte_wrap():
    """Average/Paeth regression: the reconstructed LEFT neighbor must be
    reduced mod 256 before feeding the (nonlinear) predictor. A row
    whose filtered byte wrapped (orig < pred) used to leave an unmasked
    accumulator and decode pixels off by 128."""
    # the reviewer's minimal case: gray 3x1, Average filter
    row = np.array([[200, 44, 32]], dtype=np.uint8)[:, :, None]
    h, w, c = row.shape
    filtered = bytes([3]) + _apply_filter(3, row[0].reshape(-1),
                                          np.zeros(w * c, np.uint8), c).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(filtered)) + chunk(b"IEND", b"")
    )
    assert decode_png(blob)[0, :, 0].tolist() == [200, 44, 32]
    # and a full random image through every filter (wraps guaranteed)
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(15, 11, 3), dtype=np.uint8)
    rows = []
    for y in range(15):
        f = y % 5
        prev = img[y - 1].reshape(-1) if y else np.zeros(33, np.uint8)
        rows.append(bytes([f]) + _apply_filter(f, img[y].reshape(-1), prev, 3).tobytes())
    blob2 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 11, 15, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(blob2), img)


def test_zero_dimension_png_rejected():
    ihdr = struct.pack(">IIBBBBB", 0, 3, 8, 0, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 3)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="dimensions"):
        decode_png(blob)


def test_malformed_chunks_raise_valueerror_not_struct_error():
    """struct.error is not a ValueError; the kernels' quarantine catch
    would miss it and fail the whole job."""
    # WAV with an 8-byte fmt chunk
    bad_fmt = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 8) + b"\x01\x00\x01\x00\x00\x00\x00\x00"
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="fmt chunk"):
        decode_wav(bad_fmt)
    # PNG with a CRC-valid but truncated IHDR
    short = struct.pack(">IIB", 4, 4, 8)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    blob = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", short) + chunk(b"IDAT", zlib.compress(b""))
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(blob)


def test_header_manifest_agrees_with_real_decode(spark):
    """The JVM-side header parse (wav_chunk_manifest: sample rate and
    per-channel sample count from raw bytes, no codec) must agree with
    the real PCM decode on the same blobs — the integration seam between
    the planning tier and the kernel tier."""
    from oic_options_chains_spark.operators.multimodal import wav_chunk_manifest

    blobs = [
        (1, _wav_blob(rate=16000, samples=tuple(range(-50, 50)))),
        (2, _wav_blob(rate=8000, samples=(5, -5, 7))),
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in blobs], "doc_id long, content binary"
    )
    man = (
        wav_chunk_manifest(df, "content", "doc_id", samples_per_chunk=16)
        .groupBy("doc_id")
        .agg(
            {"sample_rate": "first", "n_samples": "first", "end_sample": "max"}
        )
        .collect()
    )
    got = {
        r["doc_id"]: (r["first(sample_rate)"], r["first(n_samples)"], r["max(end_sample)"])
        for r in man
    }
    for doc_id, blob in blobs:
        rate, n_ch, samples = decode_wav(blob)
        n = len(samples) // n_ch
        assert got[doc_id] == (rate, n, n)


def test_png_decoder_quarantine_contract_under_corruption():
    """The kernels catch ONLY ValueError, so decode_png must map every
    malformed input to ValueError — a truncation or bit flip that
    escaped as IndexError/struct.error/zlib.error would fail the whole
    Spark job instead of quarantining the row."""
    blob = encode_png(_gradient(9, 7, 3))
    # every prefix truncation
    for cut in range(0, len(blob), 3):
        try:
            decode_png(blob[:cut])
        except ValueError:
            pass  # the contract
        # any other exception type propagates and fails the test
    # single-bit flips across the whole blob (signature, lengths, tags,
    # compressed payload, CRCs)
    for pos in range(8, len(blob), 5):
        mutated = bytearray(blob)
        mutated[pos] ^= 0x40
        try:
            decode_png(bytes(mutated))
        except ValueError:
            pass


def test_wav_decoder_quarantine_contract_under_corruption():
    blob = _wav_blob(samples=tuple(range(-100, 100)))
    for cut in range(0, len(blob), 3):
        try:
            decode_wav(blob[:cut])
        except ValueError:
            pass
    for pos in range(0, len(blob), 5):
        mutated = bytearray(blob)
        mutated[pos] ^= 0x40
        try:
            wav_stats(bytes(mutated))
        except ValueError:
            pass


def _chunk(tag, data):
    return (
        struct.pack(">I", len(data)) + tag + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def test_zlib_bomb_png_quarantines_without_inflating():
    """A crafted IDAT that would expand ~1000x past the declared pixel
    payload must be rejected as ValueError after at most expected+1
    bytes of inflate — never a MemoryError escaping the kernels'
    quarantine catch (ADVICE r5)."""
    # declares 2x2 RGB (expected payload 14 bytes) but carries 32 MiB of
    # zeros compressed to ~32 KiB
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * (32 << 20), 9)
    blob = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", bomb) + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(blob)


def test_png_dimension_cap_rejected_before_inflate():
    """A hostile IHDR declaring billions of pixels is rejected before
    any allocation keyed off its dimensions."""
    ihdr = struct.pack(">IIBBBBB", 0xFFFF, 0xFFFF, 8, 2, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"\x00")) + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="decode cap"):
        decode_png(blob)


def test_truncated_idat_stream_still_quarantines():
    """An IDAT whose zlib stream ends early (correct CRC, incomplete
    DEFLATE) must map to ValueError via the bounded-inflate path."""
    img = _gradient(6, 5, 3)
    full = encode_png(img)
    # rebuild with the IDAT's compressed payload cut in half
    pos, out = 8, full[:8]
    while pos + 8 <= len(full):
        (length,) = struct.unpack(">I", full[pos : pos + 4])
        tag = full[pos + 4 : pos + 8]
        data = full[pos + 8 : pos + 8 + length]
        if tag == b"IDAT":
            data = data[: len(data) // 2]
        out += _chunk(tag, data)
        pos += 12 + length
    with pytest.raises(ValueError):
        decode_png(out)


# --------------------------------------------------------------------------
# Baseline JPEG codec
# --------------------------------------------------------------------------

from oic_options_chains_spark.operators.codecs import (  # noqa: E402
    decode_image,
    decode_jpeg,
    encode_jpeg,
)


def _smooth(h, w):
    y, x = np.mgrid[0:h, 0:w]
    r = 255 * x / max(w - 1, 1)
    g = 255 * y / max(h - 1, 1)
    b = 128 + 60 * np.sin(x / 7.0) * np.cos(y / 5.0)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def test_jpeg_flat_color_roundtrip_exact():
    flat = np.full((16, 24, 3), [120, 60, 200], dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(flat, quality=95))
    assert out.shape == (16, 24, 3)
    assert int(np.abs(out.astype(int) - flat.astype(int)).max()) == 0


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_jpeg_roundtrip_all_subsamplings(sub):
    """Lossy roundtrip within JPEG tolerance on a smooth image at
    non-multiple-of-8/16 dimensions — exercises 1x1, 2x1, and 2x2
    interleaved MCU decode plus edge-block cropping."""
    img = _smooth(37, 53)
    out = decode_jpeg(encode_jpeg(img, quality=92, subsampling=sub))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert float(err.mean()) < 4.0 and int(err.max()) < 32


def test_jpeg_grayscale_roundtrip():
    img = _smooth(20, 30)[:, :, :1]
    out = decode_jpeg(encode_jpeg(img, quality=92))
    assert out.shape == (20, 30, 1)
    assert float(np.abs(out.astype(int) - img.astype(int)).mean()) < 3.0


def test_jpeg_restart_interval_decode():
    """A DRI segment + RSTn markers spliced into an encoded stream must
    decode identically: re-encode block rows with restarts by building
    the stream with DRI via a manual re-encode at interval boundaries."""
    # encode_jpeg does not emit DRI, so synthesize: decode a normal
    # stream, then verify a hand-built DRI stream with resets decodes.
    # Build a 2-MCU-wide gray image whose stream we can split exactly:
    # encode each 8x8 block independently (DC pred resets per restart).
    from oic_options_chains_spark.operators.codecs import (
        _AC_L,
        _BitWriter,
        _DC_L,
        _encode_block,
        _huff_encode_table,
        _quality_tables,
    )

    img = _smooth(8, 32)[:, :, :1]  # four 8x8 blocks in one row
    ql, _ = _quality_tables(90)
    dc, ac = _huff_encode_table(*_DC_L), _huff_encode_table(*_AC_L)
    plane = img[:, :, 0].astype(np.float64) - 128.0
    pieces = []
    for bx in range(4):
        bw = _BitWriter()
        _encode_block(bw, plane[:, bx * 8 : bx * 8 + 8], ql, dc, ac, 0)
        bw.flush()
        pieces.append(bytes(bw.out))
    scan = b""
    for i, piece in enumerate(pieces):
        scan += piece
        if i < 3:
            scan += bytes([0xFF, 0xD0 + (i % 8)])

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes(ql.astype(np.uint8)))
        + seg(0xDD, struct.pack(">H", 1))  # restart every MCU
        + seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 32) + bytes([1]) + bytes([1, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(_DC_L[0]) + bytes(_DC_L[1]))
        + seg(0xC4, bytes([0x10]) + bytes(_AC_L[0]) + bytes(_AC_L[1]))
        + seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
        + scan
        + b"\xff\xd9"
    )
    out = decode_jpeg(blob)
    # reference: the no-restart encode of the same image
    ref = decode_jpeg(encode_jpeg(img, quality=90))
    assert out.shape == (8, 32, 1)
    assert int(np.abs(out.astype(int) - ref.astype(int)).max()) <= 1


def test_jpeg_relabelled_sof2_still_quarantines():
    """A baseline stream relabelled SOF2 is MALFORMED progressive (its
    interleaved full-band scan violates Se=0 for DC scans): the
    progressive path must quarantine it, not mis-decode."""
    blob = bytearray(encode_jpeg(_smooth(16, 16), quality=80))
    # flip the SOF0 marker (FFC0) to SOF2 (FFC2)
    idx = bytes(blob).find(b"\xff\xc0")
    blob[idx + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(blob))


def test_jpeg_decoder_quarantine_contract_under_corruption():
    """Same contract as PNG/WAV: every truncation and bit flip maps to
    ValueError (or decodes to valid pixels) — never IndexError/
    struct.error/KeyError escaping the kernels' catch."""
    blob = encode_jpeg(_smooth(17, 19), quality=85)
    for cut in range(0, len(blob), 7):
        try:
            decode_jpeg(blob[:cut])
        except ValueError:
            pass
    for pos in range(2, len(blob), 11):
        mutated = bytearray(blob)
        mutated[pos] ^= 0x40
        try:
            out = decode_jpeg(bytes(mutated))
            assert out.dtype == np.uint8
        except ValueError:
            pass


def test_decode_image_dispatch():
    img = _smooth(9, 11)
    assert decode_image(encode_png(img)).shape == (9, 11, 3)
    assert decode_image(encode_jpeg(img)).shape == (9, 11, 3)
    # a truncated GIF routes to the GIF decoder and quarantines there
    with pytest.raises(ValueError, match="GIF"):
        decode_image(b"GIF89a\x01\x00\x01\x00")
    with pytest.raises(ValueError, match="container"):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")


def test_jpeg_dims_router_agrees_with_real_decode(spark):
    """Integration seam: the JVM-side SOF marker walk (jpeg_dimensions)
    must report exactly the dimensions the real decoder produces, for
    every subsampling the encoder can write."""
    from pyspark.sql import functions as F

    from oic_options_chains_spark.operators.multimodal import jpeg_dimensions

    blobs = [
        (i, encode_jpeg(_smooth(21 + 5 * i, 33 + 3 * i), quality=85, subsampling=sub))
        for i, sub in enumerate(["444", "422", "420"])
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in blobs], "media_id long, content binary"
    )
    d = jpeg_dimensions(F.col("content"))
    got = {
        r.media_id: (r.w, r.h)
        for r in df.select(
            "media_id", d["width"].alias("w"), d["height"].alias("h")
        ).collect()
    }
    for i, blob in blobs:
        px = decode_jpeg(blob)
        assert got[i] == (px.shape[1], px.shape[0])


def test_decode_media_real_kernel_handles_jpeg(spark):
    """decode_media over a mixed PNG/JPEG/garbage column:
    real stats for both codecs, NULL quarantine for the rest."""
    from oic_options_chains_spark.operators.multimodal import decode_media

    png_img = _smooth(12, 18)
    jpg_img = np.full((10, 14, 3), [200, 200, 200], dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_png(png_img)), None),
        (2, "image", bytearray(encode_jpeg(jpg_img, quality=95)), None),
        (3, "image", bytearray(b"\xff\xd8broken"), None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, meta string"
    )
    got = {r.media_id: r for r in decode_media(df).collect()}
    assert (got[1].width, got[1].height) == (18, 12)
    assert (got[2].width, got[2].height) == (14, 10)
    # flat 200-gray: mean luma ~200/255
    assert abs(got[2].mean_luma - 200 / 255) < 0.01
    assert got[3].width is None and got[3].mean_luma is None


# --------------------------------------------------------------------------
# GIF codec
# --------------------------------------------------------------------------

from oic_options_chains_spark.operators.codecs import (  # noqa: E402
    decode_gif,
    encode_gif,
)


def _paletted(h, w, n_colors=7):
    y, x = np.mgrid[0:h, 0:w]
    idx = (3 * y + 5 * x) % n_colors
    palette = np.array(
        [[37 * i % 256, (91 * i + 13) % 256, (151 * i + 7) % 256] for i in range(n_colors)],
        dtype=np.uint8,
    )
    return palette[idx]


def test_gif_roundtrip_exact():
    img = _paletted(23, 31)
    out = decode_gif(encode_gif(img))
    assert np.array_equal(out, img)


def test_gif_roundtrip_exercises_lzw_width_growth():
    # 200 distinct colors force an 8-bit palette and code widths past
    # the initial size; a >255-byte payload forces sub-block splitting
    img = _paletted(64, 64, n_colors=200)
    out = decode_gif(encode_gif(img))
    assert np.array_equal(out, img)


def test_gif_grayscale_input():
    gray = (np.mgrid[0:9, 0:11][1] * 20 % 160).astype(np.uint8)
    out = decode_gif(encode_gif(gray))
    assert np.array_equal(out[:, :, 0], gray)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])


def test_gif_too_many_colors_rejected():
    i = np.arange(512, dtype=np.int32).reshape(16, 32)
    img = np.stack([i % 256, i // 256, np.zeros_like(i)], axis=-1).astype(np.uint8)
    with pytest.raises(ValueError, match="256 colors"):
        encode_gif(img)


def test_gif_interlaced_decode():
    """Rebuild an encoded frame as interlaced: set the flag and reorder
    rows into pass order; decode must undo it exactly."""
    img = _paletted(13, 9)
    blob = bytearray(encode_gif(img))
    # image descriptor starts after header(6)+LSD(7)+GCT
    size_field = blob[10] & 7
    desc = 13 + 3 * (2 << size_field)
    assert blob[desc] == 0x2C
    blob[desc + 9] |= 0x40  # interlace flag
    # re-encode pixel rows in interlace pass order
    passes = [y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for y in range(start, 13, step)]
    reordered = img[passes]
    inter = bytearray(encode_gif(reordered))
    # splice the reordered image's LZW data into the interlaced header
    out = bytes(blob[: desc + 10]) + bytes(inter[desc + 10 :])
    assert np.array_equal(decode_gif(out), img)


def test_gif_animated_returns_first_frame():
    a, b = _paletted(8, 8), _paletted(8, 8)[::-1]
    ba, bb = encode_gif(a), encode_gif(b)
    size_field = ba[10] & 7
    desc = 13 + 3 * (2 << size_field)
    # frame blocks only (strip header + trailer), concatenated
    fa, fb = ba[desc:-1], bb[desc:-1]
    merged = ba[:desc] + fa + fb + b"\x3b"
    assert np.array_equal(decode_gif(merged), a)


def test_gif_frame_placement_and_background():
    """A frame smaller than the logical screen lands at (left, top);
    the uncovered canvas takes the background color."""
    img = _paletted(4, 4)
    blob = bytearray(encode_gif(img))
    size_field = blob[10] & 7
    desc = 13 + 3 * (2 << size_field)
    # logical screen 8x6, bg color index 1, frame at left=3, top=2
    blob[6:10] = struct.pack("<HH", 8, 6)
    blob[11] = 1
    blob[desc + 1 : desc + 9] = struct.pack("<HHHH", 3, 2, 4, 4)
    out = decode_gif(bytes(blob))
    assert out.shape == (6, 8, 3)
    palette = np.frombuffer(bytes(blob[13 : 13 + 3 * (2 << size_field)]), np.uint8).reshape(-1, 3)
    assert np.array_equal(out[2:6, 3:7], img)
    assert np.array_equal(out[0, 0], palette[1])


def test_gif_decoder_quarantine_contract_under_corruption():
    blob = encode_gif(_paletted(11, 13, n_colors=30))
    for cut in range(0, len(blob), 5):
        try:
            decode_gif(blob[:cut])
        except ValueError:
            pass
    for pos in range(6, len(blob), 7):
        mutated = bytearray(blob)
        mutated[pos] ^= 0x20
        try:
            out = decode_gif(bytes(mutated))
            assert out.dtype == np.uint8
        except ValueError:
            pass


def test_decode_image_dispatches_gif():
    img = _paletted(6, 5)
    assert np.array_equal(decode_image(encode_gif(img)), img)


def test_decode_media_real_kernel_handles_gif(spark):
    from oic_options_chains_spark.operators.multimodal import decode_media

    img = _paletted(10, 12)
    df = spark.createDataFrame(
        [(1, "image", bytearray(encode_gif(img)), None)],
        "media_id long, kind string, content binary, meta string",
    )
    row = decode_media(df).collect()[0]
    assert (row.width, row.height) == (12, 10)


# --------------------------------------------------------------------------
# MJPEG AVI video
# --------------------------------------------------------------------------

from oic_options_chains_spark.operators.codecs import (  # noqa: E402
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    mjpeg_frames,
    video_stats,
)


def _clip(n=6, h=16, w=24):
    return [
        np.clip(_smooth(h, w).astype(int) + 7 * i, 0, 255).astype(np.uint8)
        for i in range(n)
    ]


def test_avi_mjpeg_roundtrip():
    frames = _clip()
    blob = encode_avi_mjpeg(frames, fps=5, quality=95)
    out = decode_avi_mjpeg(blob)
    assert len(out) == 6
    for o, f in zip(out, frames):
        assert o.shape == f.shape
        assert float(np.abs(o.astype(int) - f.astype(int)).mean()) < 3.0


def test_video_stats_samples_every_n():
    blob = encode_avi_mjpeg(_clip(), fps=5)
    n, w, h, stats = video_stats(blob, every_n=2)
    assert (n, w, h) == (6, 24, 16)
    assert [i for i, _ in stats] == [0, 2, 4]
    # later frames are brighter (+7 gray per frame)
    lumas = [v for _, v in stats]
    assert lumas == sorted(lumas)


def test_avi_quarantine_contract():
    blob = encode_avi_mjpeg(_clip(3, 8, 8))
    for cut in range(0, len(blob), 17):
        try:
            decode_avi_mjpeg(blob[:cut])
        except ValueError:
            pass
    with pytest.raises(ValueError, match="RIFF/AVI"):
        mjpeg_frames(b"RIFF\x04\x00\x00\x00WAVE")
    # a frame chunk that is not a JPEG (interframe codec stand-in)
    tampered = bytearray(blob)
    pos = bytes(blob).find(b"00dc") + 8
    tampered[pos : pos + 2] = b"\x00\x00"  # destroy the SOI
    with pytest.raises(ValueError):
        decode_avi_mjpeg(bytes(tampered))


def test_sample_frames_real_kernel(spark):
    from oic_options_chains_spark.operators.multimodal import sample_frames

    frames = _clip(5)
    rows = [
        (1, bytearray(encode_avi_mjpeg(frames, quality=95))),
        (2, bytearray(b"not a video")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = sample_frames(df, every_n=2).collect()
    assert sorted((r.media_id, r.frame_idx) for r in got) == [(1, 0), (1, 2), (1, 4)]
    # digests are of DECODED pixels: re-encoding the same frames at the
    # same quality yields identical digests
    import hashlib as _hl

    from oic_options_chains_spark.operators.codecs import decode_jpeg, encode_jpeg

    expect = _hl.md5(decode_jpeg(encode_jpeg(frames[0], quality=95)).tobytes()).hexdigest()
    assert [r.frame_digest for r in got if r.frame_idx == 0] == [expect]


def test_avi_nested_list_bomb_raises_valueerror_not_recursion():
    """~5000 nested LIST headers must hit the quarantine ValueError
    (depth cap), never RecursionError — a RecursionError would escape
    the ValueError-only contract and kill the Spark task instead of
    dropping the row."""
    import struct as _s

    depth = 5000
    inner = b""
    for _ in range(depth):
        body = b"rec " + inner
        inner = b"LIST" + _s.pack("<I", len(body)) + body
    payload = b"AVI " + inner
    blob = b"RIFF" + _s.pack("<I", len(payload)) + payload
    with pytest.raises(ValueError, match="nesting"):
        mjpeg_frames(blob)


def test_avi_realistic_nesting_still_decodes():
    """The depth cap must not reject real AVIs (hdrl/strl/movi ~3 deep):
    the encoder's own output still round-trips."""
    blob = encode_avi_mjpeg(_clip(2, 8, 8), fps=5)
    assert len(mjpeg_frames(blob)) == 2


def test_gif_animation_bomb_budget_quarantines():
    """An animated GIF over the default frame budget must raise
    ValueError (quarantine) instead of materializing thousands of
    full-canvas frames — the animation analog of the PNG inflate cap."""
    from oic_options_chains_spark.operators.codecs import (
        _GIF_MAX_FRAMES,
        decode_gif_frames,
        encode_gif_animation,
    )

    frames = [np.full((4, 4, 3), 7, np.uint8)] * 4
    blob = bytearray(encode_gif_animation(frames))
    # splice the (image-descriptor + data) of frame 1 many more times:
    # build a long animation without a huge encoder input
    first_desc = bytes(blob).index(b"\x2c")  # first image separator
    trailer = bytes(blob).rindex(b"\x3b")
    body = bytes(blob)[first_desc:trailer]
    n_copies = (_GIF_MAX_FRAMES // 4) + 2
    bomb = bytes(blob)[:first_desc] + body * n_copies + b"\x3b"
    with pytest.raises(ValueError, match="budget|cap"):
        decode_gif_frames(bomb)
    # explicit max_frames still truncates (the sampling path)
    got = decode_gif_frames(bomb, max_frames=3)
    assert len(got) == 3
