"""Animated GIF inter-frame compositing (codecs.decode_gif_frames /
encode_gif_animation): sub-rect deltas + transparency + disposal are the
inter-frame model web GIFs actually ship, so the roundtrip pin is
frame-exact compositing, not single-frame decode."""

import numpy as np
import pytest

from oic_options_chains_spark.operators.codecs import (
    decode_gif,
    decode_gif_frames,
    encode_gif_animation,
)


def _frames(n=5, h=12, w=16, seed=1):
    rng = np.random.default_rng(seed)
    base = (rng.integers(0, 4, (h, w)) * 60).astype(np.uint8)
    out = [np.stack([base] * 3, axis=-1)]
    for i in range(n - 1):
        f = out[-1].copy()
        f[2 + i : 5 + i, 3 : 9] = (i * 60) % 240
        out.append(f)
    return out


def test_delta_encoded_animation_roundtrips_exactly():
    frames = _frames()
    blob = encode_gif_animation(frames)
    got = decode_gif_frames(blob)
    assert len(got) == len(frames)
    for want, have in zip(frames, got):
        assert np.array_equal(want, have)
    # the optimizer really emitted deltas: total payload far below
    # n_frames full canvases
    full = encode_gif_animation([frames[0]] )
    assert len(blob) < len(full) * len(frames)


def test_unchanged_frame_is_a_transparent_noop():
    f = _frames(1)[0]
    blob = encode_gif_animation([f, f.copy(), f.copy()])
    got = decode_gif_frames(blob)
    assert len(got) == 3
    for have in got:
        assert np.array_equal(f, have)


def test_disposal_restore_background():
    f0, f1, f2 = _frames(3)
    blob = encode_gif_animation([f0, f1, f2], disposals=[1, 2, 1])
    got = decode_gif_frames(blob)
    # frame 1 shown as f1; after disposal 2 the canvas resets to the
    # background, so frame 2 was encoded as a FULL canvas and must still
    # composite back to exactly f2
    assert np.array_equal(got[1], f1)
    assert np.array_equal(got[2], f2)


def test_disposal_restore_previous():
    f0, f1, f2 = _frames(3)
    blob = encode_gif_animation([f0, f1, f2], disposals=[1, 3, 1])
    got = decode_gif_frames(blob)
    assert np.array_equal(got[0], f0)
    assert np.array_equal(got[1], f1)
    assert np.array_equal(got[2], f2)


def test_first_frame_contract_unchanged():
    frames = _frames(4)
    blob = encode_gif_animation(frames)
    assert np.array_equal(decode_gif(blob), frames[0])


def test_max_frames_stops_early():
    frames = _frames(6)
    blob = encode_gif_animation(frames)
    got = decode_gif_frames(blob, max_frames=2)
    assert len(got) == 2 and np.array_equal(got[1], frames[1])


def test_animation_quarantine_under_corruption():
    blob = encode_gif_animation(_frames(4))
    for cut in range(0, len(blob), 7):
        try:
            decode_gif_frames(blob[:cut])
        except ValueError:
            pass
    for pos in range(6, len(blob), 5):
        mutated = bytearray(blob)
        mutated[pos] ^= 0x3C
        try:
            decode_gif_frames(bytes(mutated))
        except ValueError:
            pass


def test_video_stats_and_spark_kernel_handle_gif(spark):
    from oic_options_chains_spark.operators.codecs import video_stats
    from oic_options_chains_spark.operators.multimodal import sample_frames

    frames = _frames(5)
    blob = encode_gif_animation(frames)
    n, w, h, stats = video_stats(blob, every_n=2)
    assert (n, w, h) == (5, 16, 12)
    assert [i for i, _ in stats] == [0, 2, 4]

    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"not a video"))],
        "media_id long, content binary",
    )
    rows = sample_frames(df, every_n=2).collect()
    assert [r.frame_idx for r in rows] == [0, 2, 4]
    import hashlib

    assert rows[1].frame_digest == hashlib.md5(frames[2].tobytes()).hexdigest()


def test_too_many_colors_rejected():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="colors"):
        encode_gif_animation([img])
