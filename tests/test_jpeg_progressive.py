"""Progressive JPEG (SOF2) codec: the T.81 Annex G multi-scan path.

The pin: progressive and baseline encodings carry IDENTICAL quantized
coefficients (shared ``_prep_jpeg_planes`` + ``rint(F/Q)``), so decoding
the progressive stream must yield pixels EQUAL to decoding the baseline
stream — not approximately, byte-for-byte. That single property
exercises every scan kind the encoder emits: interleaved DC first with
successive approximation, spectral-split AC first passes, DC refine,
and the AC refinement correction-bit protocol (including buffered bits
inside ZRL runs and EOB runs).
"""

import numpy as np
import pytest

from oic_options_chains_spark.operators.codecs import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)


def _gradient(h, w, c):
    y, x = np.mgrid[0:h, 0:w]
    chans = [(13 * y + 7 * x + 29 * k) % 256 for k in range(c)]
    return np.stack(chans, axis=-1).astype(np.uint8)


def _noise(h, w, c, seed=7):
    return (
        np.random.default_rng(seed).integers(0, 256, (h, w, c)).astype(np.uint8)
    )


@pytest.mark.parametrize("c", [1, 3])
@pytest.mark.parametrize("shape", [(8, 8), (17, 19), (40, 56)])
def test_progressive_equals_baseline_gradient(shape, c):
    img = _gradient(*shape, c)
    base = decode_jpeg(encode_jpeg(img, quality=85))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=85))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("sub", ["444", "422", "420"])
def test_progressive_equals_baseline_subsampled_noise(sub):
    """Noise maximizes AC activity: every refinement scan carries real
    correction bits, ZRL runs, and mixed EOB runs."""
    img = _noise(19, 21, 3)
    base = decode_jpeg(encode_jpeg(img, quality=92, subsampling=sub))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=92, subsampling=sub))
    assert np.array_equal(base, prog)


def test_progressive_flat_image_is_pure_eob_runs():
    """A flat image has zero AC everywhere: the AC scans reduce to one
    maximal EOB run each — the EOBn accounting path in isolation."""
    img = np.full((32, 32, 3), 128, np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=85, subsampling="420"))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=85, subsampling="420"))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("rst", [1, 2])
def test_progressive_restart_intervals(rst):
    img = _noise(33, 31, 3, seed=3)
    base = decode_jpeg(encode_jpeg(img, quality=80, subsampling="422"))
    prog = decode_jpeg(
        encode_jpeg_progressive(
            img, quality=80, subsampling="422", restart_interval=rst
        )
    )
    assert np.array_equal(base, prog)


def test_progressive_stream_is_really_sof2():
    blob = encode_jpeg_progressive(_gradient(16, 16, 3))
    assert b"\xff\xc2" in blob and b"\xff\xc0" not in blob
    # multi-scan: more than one SOS marker
    assert blob.count(b"\xff\xda") > 4


def test_progressive_quarantine_under_corruption():
    """Same contract as the baseline path: truncations and bit flips map
    to ValueError (or decode to valid pixels) — never an escaping
    IndexError/KeyError/struct.error."""
    blob = encode_jpeg_progressive(_noise(17, 19, 3, seed=5), quality=85,
                                   subsampling="420", restart_interval=2)
    for cut in range(0, len(blob), 9):
        try:
            decode_jpeg(blob[:cut])
        except ValueError:
            pass
    for pos in range(2, len(blob), 7):
        mutated = bytearray(blob)
        mutated[pos] ^= 0x5A
        try:
            decode_jpeg(bytes(mutated))
        except ValueError:
            pass


def test_progressive_through_the_spark_kernel(spark):
    """decode_media accepts progressive blobs end-to-end."""
    from oic_options_chains_spark.operators.codecs import luma
    from oic_options_chains_spark.operators.multimodal import decode_media

    img = _gradient(12, 20, 3)
    rows = [
        (1, "image", bytearray(encode_jpeg_progressive(img, quality=95)), None),
        (2, "image", bytearray(b"not an image"), None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary, meta string"
    )
    got = {r.media_id: r for r in decode_media(df).collect()}
    assert (got[1].width, got[1].height) == (20, 12)
    want = decode_jpeg(encode_jpeg(img, quality=95))
    assert got[1].mean_luma == pytest.approx(float(luma(want).mean()) / 255.0)
    assert got[2].width is None


@pytest.mark.parametrize("kind", ["noise", "lowfreq", "hotpixel"])
@pytest.mark.parametrize("sub", ["444", "420"])
def test_progressive_adversarial_coefficient_shapes(kind, sub):
    """Shapes chosen to stress specific Annex G paths: noise (dense AC,
    correction bits inside ZRL runs), low-frequency blocks (long EOB
    runs folding trailing zeros), isolated hot pixels (sparse
    high-frequency coefficients after long zero runs — the
    ZRL-beyond-EOB fold)."""
    import zlib

    rng = np.random.default_rng(zlib.crc32(f"{kind}/{sub}".encode()))
    h, w = 25, 38
    if kind == "noise":
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
    elif kind == "lowfreq":
        y, x = np.mgrid[0:h, 0:w]
        img = np.stack(
            [((y // 8 + x // 8 + k) % 4 * 63).astype(np.uint8) for k in range(3)],
            axis=-1,
        )
    else:
        img = np.full((h, w, 3), 128, np.uint8)
        img[::7, ::5] = 255
    base = decode_jpeg(encode_jpeg(img, quality=70, subsampling=sub))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=70, subsampling=sub))
    assert np.array_equal(base, prog)
