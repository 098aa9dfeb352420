"""Multimodal (image/audio/video) columns as opaque binary + typed
metadata.

A 100 TB training-data pipeline carries media as ``binary`` columns with
a typed metadata struct alongside — never decoded in the plan until a
kernel needs pixels. The kernels run the dependency-free codecs in
``operators/codecs.py`` through the per-row adapter
(``operators/kernel.py``):

- ``decode_media`` / ``resize_images`` run complete baseline PNG (zlib
  inflate, all five scanline filters, CRC verification) and JPEG —
  baseline AND progressive SOF2 (T.81 Huffman + DCT, 4:4:4/4:2:2/4:2:0,
  restart intervals, spectral selection + successive approximation) —
  codecs; ``decode_audio`` parses RIFF/WAVE PCM-16. Rows that fail to
  decode carry NULL stats (or drop, for resize) — the
  quarantine-friendly shape.
- ``sample_frames`` demuxes MJPEG AVI (RIFF walk + the JPEG decoder per
  frame) and animated GIF; interframe video codecs (H.264/VP9/AV1)
  have no decoder here, so their rows drop; ``sniff_format`` routes
  blobs before any kernel runs. JPEG DIMENSIONS never need the codec:
  ``jpeg_dimensions`` walks the marker segments to the SOFn frame
  header in pure JVM column arithmetic — no decode, no Python.

Scale notes: kernels run ``mapInPandas`` where the scan ran (no shuffle);
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds per-batch memory,
which matters when single binaries are MBs — set it low for video. Frame
sampling emits one row per sampled frame (a flatMap), so downstream
shuffles see small fixed-size features, never the raw bytes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oic_options_chains_spark.operators.kernel import row_kernel

MEDIA_KINDS = ("image", "audio", "video")

# media fact table: content is opaque; meta is typed per kind
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

FRAME_SAMPLES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_digest", T.StringType(), False),
    ]
)


def binary_meta(content: Column) -> dict[str, Column]:
    """JVM-side metadata over an opaque binary column — no Python, no
    decode: size and a portable content hash."""
    return {
        "n_bytes": F.octet_length(content).cast("bigint"),
        "content_md5": F.md5(content),
    }


def frame_manifest(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    chunk_bytes: int = 256,
) -> DataFrame:
    """Frame/chunk scheduling manifest — entirely JVM-side, no decode.

    One row per fixed-size byte window: (id, frame_idx, byte_offset,
    chunk_len). This is the planning half of frame sampling: at scale the
    manifest is computed (and can be filtered/sampled/joined) WITHOUT
    touching the blobs, and only the windows that survive planning are
    handed to a codec kernel. ``sequence`` + ``posexplode`` stay inside
    whole-stage codegen; zero Python, zero shuffle."""
    n = F.octet_length(F.col(content_col)).cast("bigint")
    withn = df.select(F.col(id_col), n.alias("__n")).filter(F.col("__n") > 0)
    offs = F.sequence(
        F.lit(0).cast("bigint"), F.col("__n") - 1, F.lit(chunk_bytes).cast("bigint")
    )
    return withn.select(
        F.col(id_col), F.col("__n"), F.posexplode(offs).alias("frame_idx", "byte_offset")
    ).select(
        F.col(id_col),
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("byte_offset").cast("bigint").alias("byte_offset"),
        F.least(F.lit(chunk_bytes).cast("bigint"), F.col("__n") - F.col("byte_offset")).alias(
            "chunk_len"
        ),
    )


def decode_media(df: DataFrame, feature_dims: int = 8) -> DataFrame:
    """Decode + feature-extract images: ``MEDIA`` rows -> ``IMAGE_FEATURES``.

    Runs the dependency-free codecs (``operators/codecs.py``: PNG via
    stdlib zlib inflate + all five scanline filters CRC-verified, JPEG
    via T.81 Huffman + DCT, baseline and progressive) — integer Rec.601
    luma and a mean-luma grid feature. Rows whose blob fails to decode
    (unknown format, malformed chunk) keep their media_id with NULL
    stats — the quarantine-friendly shape; route known-other formats to
    their own kernels via ``sniff_format`` upstream.
    """
    from oic_options_chains_spark.operators.codecs import image_stats

    def stats(mid, blob):
        try:
            w, h, luma, feat = image_stats(bytes(blob), feature_dims)
        except ValueError:
            w = h = luma = feat = None
        yield (mid, w, h, luma, feat)

    return row_kernel(df.select("media_id", "content"), stats, IMAGE_FEATURES)


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize kernel: PNG/JPEG decode, deterministic nearest-neighbor
    resample, PNG re-encode (``operators/codecs.py``; output is always
    PNG so resized bytes are deterministic — JPEG re-encode would be
    lossy twice). Rows that fail to decode are DROPPED (quarantine
    upstream via ``sniff_format``)."""
    from oic_options_chains_spark.operators.codecs import (
        decode_image,
        encode_png,
        resize_nearest,
    )

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), False),
        ]
    )

    def resized(mid, blob):
        try:
            px = decode_image(bytes(blob))
        except ValueError:
            return
        yield (mid, encode_png(resize_nearest(px, width, height)))

    return row_kernel(df.select("media_id", "content"), resized, out_schema)


AUDIO_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("peak_abs", T.IntegerType(), True),
        T.StructField("mean_abs_e3", T.LongType(), True),
    ]
)


def decode_audio(df: DataFrame) -> DataFrame:
    """Real WAV PCM-16 decode (``operators/codecs.decode_wav`` — struct
    parsing, no library): per blob, sample rate, per-channel sample
    count, and integer loudness stats (peak and 1000x-scaled mean
    absolute amplitude — exact, no float) for ASR-prep quality gates.
    Non-WAV / malformed rows keep their id with NULL stats. Same
    zero-shuffle placement as ``decode_media``."""
    from oic_options_chains_spark.operators.codecs import wav_stats

    def stats(mid, blob):
        try:
            rate, n, peak, mean_e3 = wav_stats(bytes(blob))
        except ValueError:
            rate = n = peak = mean_e3 = None
        yield (mid, rate, n, peak, mean_e3)

    return row_kernel(df.select("media_id", "content"), stats, AUDIO_FEATURES)


def sample_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sample videos: one output row per sampled frame (a flatMap —
    output length independent of input length).

    Demuxes MJPEG AVI blobs (``codecs.mjpeg_frames`` + the JPEG decoder)
    and ANIMATED GIFs (``codecs.decode_gif_frames`` — true inter-frame
    compositing of sub-rect deltas, transparency, disposal methods):
    frame_idx is the actual stream index and frame_digest the md5 of
    the DECODED pixel bytes, so two byte-different encodes of the same
    frames dedup. Blobs that fail to demux/decode (interframe codecs,
    non-AVI, corruption) are DROPPED — quarantine upstream via
    ``sniff_format``."""
    from oic_options_chains_spark.operators.codecs import (
        decode_gif_frames,
        decode_jpeg,
        mjpeg_frames,
    )

    def frames(mid, blob):
        raw = bytes(blob)
        try:
            if raw[:6] in (b"GIF87a", b"GIF89a"):
                picked = decode_gif_frames(raw)[::every_n]
            else:
                picked = [decode_jpeg(j) for j in mjpeg_frames(raw)[::every_n]]
        except ValueError:
            return
        for n, px in enumerate(picked):
            yield (mid, n * every_n, hashlib.md5(px.tobytes()).hexdigest())

    return row_kernel(df.select("media_id", "content"), frames, FRAME_SAMPLES)


# magic-byte prefixes (hex, uppercase) -> canonical format label
MAGIC_PREFIXES: tuple[tuple[str, str], ...] = (
    ("89504E470D0A1A0A", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),  # wav/avi/webp container; see wav_sample_rate
    ("494433", "mp3"),
    ("255044462D", "pdf"),
)


def sniff_format(content: Column) -> Column:
    """Container-format detection from magic bytes — pure JVM column ops
    (hex + prefix match), no Python, no decode. The at-scale use: route
    blobs to the right codec kernel, or quarantine mislabeled media,
    WITHOUT reading past the first 8 bytes of anything."""
    head = F.hex(F.substring(content, 1, 8))
    expr = None
    for prefix, label in MAGIC_PREFIXES:
        cond = head.startswith(prefix)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(F.lit("unknown"))


def png_dimensions(content: Column) -> dict[str, Column]:
    """Width/height from a PNG IHDR chunk (bytes 17-20 / 21-24,
    big-endian) — header metadata with zero decode. NULL for non-PNG
    blobs, so the projection is safe over a mixed-format column."""
    is_png = F.hex(F.substring(content, 1, 8)) == "89504E470D0A1A0A"
    be = lambda pos: (  # noqa: E731
        F.conv(F.hex(F.substring(content, pos, 4)), 16, 10).cast("int")
    )
    return {
        "width": F.when(is_png, be(17)),
        "height": F.when(is_png, be(21)),
    }


def wav_sample_rate(content: Column) -> Column:
    """Sample rate from a RIFF/WAVE fmt chunk (bytes 25-28,
    LITTLE-endian, assembled byte-wise — there is no little-endian conv).
    NULL unless the RIFF + WAVE magics both match."""
    is_wav = (F.hex(F.substring(content, 1, 4)) == "52494646") & (
        F.hex(F.substring(content, 9, 4)) == "57415645"
    )
    byte = lambda pos: (  # noqa: E731
        F.conv(F.hex(F.substring(content, pos, 1)), 16, 10).cast("bigint")
    )
    rate = byte(25) + byte(26) * 256 + byte(27) * 65536 + byte(28) * 16777216
    return F.when(is_wav, rate.cast("int"))


def _le_int(content: Column, pos: int, n_bytes: int) -> Column:
    """Little-endian unsigned int from ``n_bytes`` at 1-based ``pos`` —
    byte-wise assembly; there is no little-endian conv()."""
    total = None
    for i in range(n_bytes):
        b = F.conv(F.hex(F.substring(content, pos + i, 1)), 16, 10).cast(
            "bigint"
        ) * (1 << (8 * i))
        total = b if total is None else total + b
    return total


def wav_block_align(content: Column) -> Column:
    """fmt-chunk block align (bytes 33-34 LE): bytes per sample frame."""
    return _le_int(content, 33, 2)


def wav_data_size(content: Column) -> Column:
    """data-chunk payload size (bytes 41-44 LE, canonical 44-byte
    header layout)."""
    return _le_int(content, 41, 4)


def wav_chunk_manifest(
    df: DataFrame,
    content_col: str,
    id_col: str = "doc_id",
    samples_per_chunk: int = 64,
) -> DataFrame:
    """(id, sample_rate, n_samples, chunk_idx, start_sample, end_sample):
    fixed-size chunk boundaries for every RIFF/WAVE blob — the manifest
    an ASR/audio-embedding batch job consumes, produced WITHOUT any
    codec: sample rate, block align, and payload size come straight from
    header bytes (pure JVM hex/arithmetic, whole-stage codegen), and the
    chunk explode is array-side. Non-WAV rows drop out (route them via
    sniff_format first); a zero-payload WAV yields no chunks.

    Scale: per-blob work is O(header) + one explode of n_chunks rows —
    the manifest is the unit of downstream batch parallelism, so this is
    the operator that turns a 100 TB audio lake into a work queue. The
    decode itself stays behind the contracted codec seam
    (``decode_media``)."""
    c = F.col(content_col)
    rate = wav_sample_rate(c)
    align = wav_block_align(c)
    # Integer div, guarded: a malformed header with block_align = 0
    # would otherwise divide to Infinity, cast to a huge bigint, and
    # explode an astronomically long chunk sequence.
    n_samples = F.when(align > 0, wav_data_size(c).cast("bigint") / align).cast(
        "bigint"
    )
    # No Filter on the projected parse expressions: the optimizer would
    # substitute the whole header-parse pipeline into a per-scan-row
    # predicate (a 41k-char fused Filter measured by tools/plan_audit.py,
    # the streaming_image_near_dup blowup class). Instead non-WAV and
    # zero-payload rows are dropped BY the explode: their chunk sequence
    # is NULL (the when() guard), and a non-outer Generate discards
    # null-array rows — same semantics, header parsed once per row.
    base = df.select(
        F.col(id_col),
        rate.alias("sample_rate"),
        n_samples.alias("n_samples"),
    )
    n_chunks = F.ceil(F.col("n_samples") / F.lit(samples_per_chunk)).cast("int")
    chunks = F.when(
        F.col("sample_rate").isNotNull() & (F.col("n_samples") > 0),
        F.sequence(F.lit(0), n_chunks - 1),
    )
    return base.select(
        F.col(id_col),
        "sample_rate",
        "n_samples",
        F.explode(chunks).alias("chunk_idx"),
    ).select(
        F.col(id_col),
        "sample_rate",
        "n_samples",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        (F.col("chunk_idx").cast("bigint") * samples_per_chunk).alias(
            "start_sample"
        ),
        F.least(
            (F.col("chunk_idx") + 1).cast("bigint") * samples_per_chunk,
            F.col("n_samples"),
        ).alias("end_sample"),
    )


def patch_grid(
    dims: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width",
    height_col: str = "height",
    patch: int = 32,
) -> DataFrame:
    """ViT-style patch manifest: one row per ``patch x patch`` tile of
    each image, with pixel offsets and edge-clamped extents — the
    scheduling relation a vision-pretraining pipeline derives from
    header metadata ALONE (``png_dimensions``), so patch sampling,
    budgeting, and shuffling are planned before any decoder runs.
    Entirely JVM-side integer arithmetic; rows per image are
    ceil(w/patch) * ceil(h/patch)."""
    p = F.lit(int(patch))
    rows = ((F.col(height_col) + p - 1) / p).cast("int")
    cols = ((F.col(width_col) + p - 1) / p).cast("int")
    g = dims.select(
        F.col(id_col),
        F.col(width_col).alias("__w"),
        F.col(height_col).alias("__h"),
        F.explode(F.sequence(F.lit(0), rows - 1)).alias("patch_row"),
        cols.alias("__cols"),
    ).select(
        id_col,
        "__w",
        "__h",
        "patch_row",
        F.explode(F.sequence(F.lit(0), F.col("__cols") - 1)).alias("patch_col"),
    )
    x0 = F.col("patch_col") * p
    y0 = F.col("patch_row") * p
    return g.select(
        F.col(id_col),
        F.col("patch_row").cast("int").alias("patch_row"),
        F.col("patch_col").cast("int").alias("patch_col"),
        x0.cast("int").alias("x0"),
        y0.cast("int").alias("y0"),
        F.least(p, F.col("__w") - x0).cast("int").alias("patch_w"),
        F.least(p, F.col("__h") - y0).cast("int").alias("patch_h"),
    )


def gif_dimensions(content: Column) -> dict[str, Column]:
    """Width/height from a GIF87a/89a logical screen descriptor (bytes
    7-8 / 9-10, LITTLE-endian) — header metadata with zero decode, NULL
    for non-GIF blobs (the ``png_dimensions`` pattern)."""
    magic = F.substring(content, 1, 6).cast("string")
    # a truncated blob whose magic survives must yield NULL, not a
    # partial-byte _le_int assembled from whatever remains: the screen
    # descriptor ends at byte 10, so shorter blobs are malformed
    is_gif = magic.isin("GIF87a", "GIF89a") & (F.octet_length(content) >= 10)
    return {
        "width": F.when(is_gif, _le_int(content, 7, 2).cast("int")),
        "height": F.when(is_gif, _le_int(content, 9, 2).cast("int")),
    }


def bmp_dimensions(content: Column) -> dict[str, Column]:
    """Width/height from a BMP BITMAPINFOHEADER (bytes 19-22 / 23-26,
    LITTLE-endian signed — a negative height means top-down rows, so
    the magnitude is reported). NULL unless the 'BM' magic matches."""
    # BITMAPINFOHEADER dims end at byte 26; a truncated 'BM' blob is
    # malformed -> NULL, never a partial-byte assembly
    is_bmp = (F.hex(F.substring(content, 1, 2)) == "424D") & (
        F.octet_length(content) >= 26
    )
    # two's-complement: values past 2^31-1 are negative 32-bit ints
    def signed(pos: int) -> Column:
        raw = _le_int(content, pos, 4)
        return F.when(raw > 0x7FFFFFFF, raw - 0x100000000).otherwise(raw)

    # |INT32_MIN| does not fit an int: a hostile biHeight of -2^31 would
    # wrap negative under the cast, so out-of-range magnitudes are
    # malformed -> NULL rather than garbage dims
    def dim(pos: int) -> Column:
        mag = F.abs(signed(pos))
        return F.when(is_bmp & (mag <= 0x7FFFFFFF), mag.cast("int"))

    return {"width": dim(19), "height": dim(23)}


def jpeg_dimensions(
    content: Column,
    max_preamble: int = 1 << 20,
    max_segments: int = 24,
) -> dict[str, Column]:
    """Width/height from a JPEG SOF0..SOF15 frame header via a BOUNDED
    marker-segment walk — entirely JVM column arithmetic (hex +
    substring + conv inside one ``F.aggregate`` over a constant
    sequence), zero Python, zero entropy decode.

    JPEG carries its dimensions in the SOFn segment (marker FFC0-FFCF
    minus the non-frame C4/C8/CC), which sits after a variable-length
    preamble of APPn/DQT/COM segments — there is no fixed header offset,
    so the parse is a marker walk: at each step read ``FF mm`` + the
    big-endian segment length and hop to the next marker. The walk is a
    RUNTIME loop of ``max_segments`` iterations (an ``aggregate`` over
    ``sequence(1, N)`` with a (pos, w, h, dead) state struct), so the
    expression tree — and therefore codegen size — is constant no matter
    the bound; real-world files reach SOF well inside 24 segments (SOI,
    a handful of APPn including EXIF, DQTs, then SOF).

    Quarantine contract (the ``png_dimensions`` pattern): any malformed
    shape — bad magic, a non-FF byte where a marker must start, a
    truncated segment, EOI/SOS before any SOF, a segment length < 2, or
    SOF beyond ``max_preamble`` bytes / ``max_segments`` markers — yields
    NULL, never partial garbage. FF fill bytes before markers and
    standalone TEM/RSTn markers are skipped per the spec.
    """
    hx = F.hex(F.substring(content, 1, max_preamble))
    hlen = F.length(hx)
    is_jpeg = F.substring(hx, 1, 6) == "FFD8FF"

    def u16(char_pos: Column) -> Column:
        # big-endian u16 at a 1-based hex-char position
        return F.conv(F.substring(hx, char_pos.cast("int"), 4), 16, 10).cast("int")

    def step(acc: Column, _elem: Column) -> Column:
        pos = acc["pos"]  # 1-based BYTE position of the next marker
        done = acc["w"].isNotNull() | acc["dead"]
        have_marker = hlen >= pos * 2 + 2
        is_ff = F.substring(hx, (pos * 2 - 1).cast("int"), 2) == "FF"
        m = F.conv(F.substring(hx, (pos * 2 + 1).cast("int"), 2), 16, 10).cast("int")
        seg_len = u16(pos * 2 + 3)
        is_fill = m == 255  # FF fill byte: next byte is the real marker
        is_standalone = (m == 1) | ((m >= 208) & (m <= 215))  # TEM / RSTn
        is_sof = (m >= 192) & (m <= 207) & ~m.isin(196, 200, 204)
        is_end = m.isin(217, 218)  # EOI, or SOS before any SOF: no dims
        has_len = hlen >= pos * 2 + 6
        sof_ok = is_sof & (hlen >= pos * 2 + 16)
        new_dead = acc["dead"] | (
            ~done
            & (
                ~have_marker
                | ~is_ff
                | is_end
                | (is_sof & ~sof_ok)
                | (
                    ~is_fill
                    & ~is_standalone
                    & ~is_sof
                    & ~is_end
                    & (~has_len | (seg_len < 2))
                )
            )
        )
        found = ~done & sof_ok
        # SOF payload: len(2) precision(1) height(2) width(2) ...
        new_h = F.when(found, u16(pos * 2 + 9)).otherwise(acc["h"])
        new_w = F.when(found, u16(pos * 2 + 13)).otherwise(acc["w"])
        new_pos = (
            F.when(done | new_dead | found, pos)
            .when(is_fill, pos + 1)
            .when(is_standalone, pos + 2)
            .otherwise(pos + 2 + seg_len)
        )
        return F.struct(
            new_pos.alias("pos"),
            new_w.alias("w"),
            new_h.alias("h"),
            new_dead.alias("dead"),
        )

    init = F.struct(
        F.lit(3).cast("bigint").alias("pos"),  # first marker after FFD8
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        (~is_jpeg).alias("dead"),
    )
    state = F.aggregate(F.sequence(F.lit(1), F.lit(int(max_segments))), init, step)
    ok = ~state["dead"]
    return {
        "width": F.when(ok, state["w"]),
        "height": F.when(ok, state["h"]),
    }


TEXT_PAYLOADS = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_raw_bytes", T.LongType(), True),
    ]
)


def decompress_text(df: DataFrame, max_bytes: int = 16 << 20) -> DataFrame:
    """Inflate compressed text blobs (the WARC/crawl-ingestion shape):
    gzip members (1F 8B) and raw zlib streams (0x78 header) via the
    stdlib, everything else NULL-quarantined. Two safety properties a
    100 TB crawl ingest needs:

    - BOMB-GUARDED: inflation runs through ``zlib.decompressobj`` with
      ``max_length``, so a decompression bomb yields a quarantined row
      (NULL text) after at most ``max_bytes`` of output — it cannot OOM
      the executor.
    - Quarantine contract: truncated/corrupt streams and non-UTF-8
      payloads all surface as NULL text with the row's id preserved,
      never as a task failure.

    Same zero-shuffle placement as the codec kernels."""

    def _inflate(raw: bytes) -> str | None:
        import zlib

        if raw is None or len(raw) < 2:
            return None
        gzip_wrapped = raw[:2] == b"\x1f\x8b"
        if not gzip_wrapped and raw[0] != 0x78:
            return None
        wbits = (16 + zlib.MAX_WBITS) if gzip_wrapped else zlib.MAX_WBITS
        try:
            # loop over CONCATENATED gzip members (the WARC norm: one
            # member per record) — a single decompressobj stops at the
            # first member's trailer and leaves the rest in unused_data
            parts, budget = [], max_bytes
            while raw:
                d = zlib.decompressobj(wbits)
                parts.append(d.decompress(raw, budget))
                if not d.eof:
                    # truncated stream (missing trailer/adler32) OR the
                    # bomb guard clipped the output — either way the
                    # text would be silently partial: quarantine
                    return None
                budget -= len(parts[-1])
                if budget <= 0 and d.unused_data:
                    return None  # bomb guard: more members than budget
                raw = d.unused_data if gzip_wrapped else b""
                if not gzip_wrapped and d.unused_data:
                    return None  # trailing garbage after a zlib stream
            return b"".join(parts).decode("utf-8")
        except (zlib.error, UnicodeDecodeError):
            return None

    def inflated(mid, blob):
        # NULL content (a failed fetch) quarantines like any other
        # undecodable row — never a task failure
        raw = bytes(blob) if blob is not None else None
        text = _inflate(raw)
        yield (mid, text, len(raw) if text is not None else None)

    return row_kernel(df.select("media_id", "content"), inflated, TEXT_PAYLOADS)
