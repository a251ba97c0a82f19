"""Multimodal column handling: image/audio/video as opaque binary + typed
metadata (the `media_ref` side of the span model; olmOCR figure-ref
convention parsers/olmocr/__main__.py:59-61).

`decode_media` is a REAL pixel decode: a dependency-free PNG codec
(kernels/png.py, stdlib zlib + filters) and a JPEG decoder run inside Arrow
batches — the analog of the reference's formula-PNG rendering surface
(utilities/formula_renderer.py:119-164). Rendering, thumbnails, WAV audio
and Y4M video share that shape: each operator size-rebalances its input,
then runs its per-row kernel through operators/rows.map_rows.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, functions as F

from pdf_parse_bench_spark.kernels.png import decode_png
from pdf_parse_bench_spark.operators.rows import map_rows
from pdf_parse_bench_spark.operators.skew import rebalance_by_size

_REF_RE = re.compile(r"page_(\d+)_(\d+)_(\d+)_(\d+)\.png")


def media_features(spans: DataFrame) -> DataFrame:
    """image spans → typed metadata (x, y, w, h, area) parsed from the
    media_ref. Pure column expressions (regexp_extract), so this stays in
    whole-stage codegen; a real decoder would swap in `decode_media`."""
    img = spans.where(F.col("kind") == "image")
    g = lambda i: F.regexp_extract("media_ref", _REF_RE.pattern, i).cast("int")
    return img.select(
        "doc_id",
        "offset",
        "media_ref",
        g(1).alias("x"),
        g(2).alias("y"),
        g(3).alias("w"),
        g(4).alias("h"),
        (g(3) * g(4)).alias("area"),
    )


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# deterministic error-placeholder artifact (the reference's render-error
# fallback image, utilities/formula_renderer.py:119-164: a failed render
# still yields a concrete placeholder, never a silent null): 64x64 mid-gray
# with a 1px black border. Its stats are the spec — golden rows for
# corrupted payloads are computed from this definition at fixture time.
PLACEHOLDER_SIDE = 64


def _half_up(x: float, scale: float) -> float:
    """Round half-up to 1/scale (engine-portable, unlike banker's round)."""
    return float(np.floor(x * scale + 0.5)) / scale


def error_placeholder() -> np.ndarray:
    img = np.full((PLACEHOLDER_SIDE, PLACEHOLDER_SIDE), 128, dtype=np.uint8)
    img[0, :] = img[-1, :] = img[:, 0] = img[:, -1] = 0
    return img


def decode_media(media_df: DataFrame) -> DataFrame:
    """Per-row decode over (doc_id, offset, media_ref, media_bytes) in
    Arrow batches (operators/rows.map_rows), format-sniffed by magic
    bytes. Input is size-rebalanced first (operators/skew.rebalance_by_size):
    a media table is written in few large files, so without the explicit
    repartition the decode stage runs on a handful of tasks and an
    oversized payload stalls its whole partition — invisible to AQE
    because it is UDF-stage skew.

      - PNG → real pixel decode (kernels/png.py) → width/height/channels +
        mean intensity in [0,1] (6 dp half-up, engine-portable); status 'ok'
      - JPEG, baseline grayscale (SOF0, 1 component, single scan) → real
        pixel decode (kernels/jpeg.py:jpeg_decode_gray) → true
        mean_intensity; status 'ok'
      - other JPEG profiles (color, progressive, headers-only) → SOFn
        header parse → width/height/channels, no pixel decode
        (mean_intensity null); status 'metadata_only'
      - anything else / corrupt → the DETERMINISTIC error-placeholder
        artifact's stats with status 'decode_error' — the reference's
        error-image fallback contract (formula_renderer.py:119-164), never
        a task failure and never an all-null row (X4 isolation)."""
    from pdf_parse_bench_spark.kernels.jpeg import (
        is_jpeg, jpeg_decode, jpeg_dims)

    media_df = rebalance_by_size(media_df, size_col=F.length("media_bytes"))
    ph_mean = _half_up(float(error_placeholder().mean()) / 255.0, 1e6)

    def row(doc_id, off, ref, b):
        raw = b or b""
        try:
            if raw.startswith(_PNG_MAGIC):
                img = decode_png(raw)
                mean = float(img.mean()) / 255.0
            elif is_jpeg(raw):
                try:
                    img = jpeg_decode(raw)
                except ValueError:
                    # outside the decodable profile (header-only
                    # stream, arithmetic coding, exotic sampling):
                    # honest metadata from the SOFn header
                    w, h, ch = jpeg_dims(raw)
                    return [(doc_id, off, ref, w, h, ch, len(raw), None,
                             "metadata_only")]
                mean = float(img.astype(np.float64).mean()) / 255.0
            else:
                raise ValueError("unknown media format")
            h, w = img.shape[:2]
            ch = 1 if img.ndim == 2 else img.shape[2]
        except Exception:
            return [(doc_id, off, ref, PLACEHOLDER_SIDE, PLACEHOLDER_SIDE, 1,
                     len(raw), ph_mean, "decode_error")]
        return [(doc_id, off, ref, w, h, ch, len(raw), _half_up(mean, 1e6),
                 "ok")]

    return map_rows(
        media_df.select("doc_id", "offset", "media_ref", "media_bytes"),
        "doc_id string, offset int, media_ref string, width int, "
        "height int, channels int, n_bytes long, mean_intensity double, "
        "status string", lambda: row)


def render_formula_artifacts(formulas: DataFrame,
                             include_png: bool = True) -> DataFrame:
    """S7 render sink: (doc_id, offset, formula) → one PNG artifact row per
    formula via the deterministic glyph-box renderer (kernels/render.py),
    with the reference's error-image fallback contract
    (formula_renderer.py:119-164): an invalid formula emits the
    deterministic placeholder artifact with status='render_error' — never
    a null row, never a task failure (X4). Size-rebalanced like
    decode_media, then map_rows in Arrow batches; png_bytes ride along for
    the sink, metadata is the oracle surface
    (closed-form in the formula text, so DuckDB recomputes it exactly).
    include_png=False skips the zlib PNG encode for metadata-only
    consumers (column pruning cannot reach inside the kernel — guide
    §4.1); the render and stats math is identical either way."""
    from pdf_parse_bench_spark.kernels.png import encode_png
    from pdf_parse_bench_spark.kernels.render import render_formula

    formulas = rebalance_by_size(formulas, size_col=F.length("formula"))
    ph = error_placeholder()
    ph_png = encode_png(ph) if include_png else None
    ph_mean = _half_up(float(ph.mean()) / 255.0, 1e6)

    def row(doc_id, off, formula):
        ref = f"formula_{doc_id}_{off}.png"
        img = render_formula(formula if formula is not None else "")
        if img is None:
            return [(doc_id, off, ref, ph.shape[1], ph.shape[0], ph_mean,
                     "render_error", ph_png)]
        return [(doc_id, off, ref, img.shape[1], img.shape[0],
                 _half_up(float(img.mean()) / 255.0, 1e6), "ok",
                 encode_png(img) if include_png else None)]

    return map_rows(
        formulas.select("doc_id", "offset", "formula"),
        "doc_id string, offset int, media_ref string, width int, "
        "height int, mean_intensity double, status string, png_bytes binary",
        lambda: row)


# --- thumbnailing (the training-pipeline resize path) ----------------------

THUMB_SIDE = 32  # max output side


def shrink_pixels(img: np.ndarray, max_side: int = THUMB_SIDE) -> np.ndarray:
    """Deterministic integer block-average downsample — the arithmetic
    spec the thumbnail golden is computed from. k = ceil(max(h,w)/max_side)
    (k=1 → unchanged); each output pixel is the float64 mean of its k×k
    cell intersected with the image (edge cells average the pixels that
    exist), rounded half-up to uint8. Channels are averaged
    independently."""
    h, w = img.shape[:2]
    k = -(-max(h, w) // max_side)
    if k <= 1:
        return img
    th, tw = -(-h // k), -(-w // k)
    chans = img if img.ndim == 3 else img[:, :, None]
    # vectorized: integer cell sums via add.reduceat on both axes, then
    # divide by the true cell area (edge cells are smaller). Sums of
    # uint8 are exact in both int64 and float64, so this equals the
    # per-cell float64 .mean() bit-for-bit — the golden spec.
    ysum = np.add.reduceat(chans.astype(np.int64), np.arange(0, h, k),
                           axis=0)
    cell = np.add.reduceat(ysum, np.arange(0, w, k), axis=1)
    ny = np.minimum(np.arange(th) * k + k, h) - np.arange(th) * k
    nx = np.minimum(np.arange(tw) * k + k, w) - np.arange(tw) * k
    area = (ny[:, None] * nx[None, :])[:, :, None]
    out = np.floor(cell / area + 0.5).astype(np.uint8)
    return out if img.ndim == 3 else out[:, :, 0]


def thumbnail_media(media_df: DataFrame,
                    max_side: int = THUMB_SIDE) -> DataFrame:
    """Thumbnail generation over the media table — the resize stage a
    training-data pipeline runs before a vision encoder, as a
    size-rebalanced map_rows pass over Arrow batches (never per-row
    Spark work). Decode via the real PNG/JPEG kernels, block-average
    shrink per `shrink_pixels`, re-encode PNG; emits thumb dims, the
    thumb's mean intensity (6 dp half-up) and the re-encoded byte count.
    Undecodable payloads get the error-placeholder's thumbnail (status
    'decode_error') — never a task failure (X4 isolation)."""
    from pdf_parse_bench_spark.kernels.jpeg import is_jpeg, jpeg_decode
    from pdf_parse_bench_spark.kernels.png import encode_png

    media_df = rebalance_by_size(media_df, size_col=F.length("media_bytes"))

    def row(doc_id, off, ref, b):
        raw = b or b""
        status = "ok"
        try:
            if raw.startswith(_PNG_MAGIC):
                img = decode_png(raw)
            elif is_jpeg(raw):
                img = jpeg_decode(raw)
            else:
                raise ValueError("unknown media format")
        except Exception:
            img = error_placeholder()
            status = "decode_error"
        thumb = shrink_pixels(img, max_side)
        th, tw = thumb.shape[:2]
        mean = float(thumb.astype(np.float64).mean()) / 255.0
        return [(doc_id, off, ref, tw, th, _half_up(mean, 1e6),
                 len(encode_png(thumb)), status)]

    return map_rows(
        media_df.select("doc_id", "offset", "media_ref", "media_bytes"),
        "doc_id string, offset int, media_ref string, thumb_w int, "
        "thumb_h int, thumb_mean double, thumb_png_bytes long, status string",
        lambda: row)


# --- audio metadata + PCM stats (the audio leg of the media model) ---------

def audio_features(audio_df: DataFrame) -> DataFrame:
    """WAV metadata + PCM-16 signal stats over (doc_id, media_ref,
    media_bytes), as a size-rebalanced map_rows pass (audio payloads skew
    exactly like oversized PDFs). Per row:

      - PCM-16 → channels/rate/bits/n_samples/duration_ms + mean absolute
        amplitude (integer-sum / n, 3 dp half-up) and peak |amplitude|;
        status 'ok'
      - other WAV profiles (float, ADPCM, 24-bit) → container metadata,
        null signal stats; status 'metadata_only'
      - anything else / corrupt → an all-zero row with status
        'decode_error' — never a task failure (X4 isolation)."""
    from pdf_parse_bench_spark.kernels.wav import parse_wav

    audio_df = rebalance_by_size(audio_df, size_col=F.length("media_bytes"))

    def row(doc_id, ref, b):
        try:
            meta = parse_wav(b or b"")
            head = (doc_id, ref, meta["channels"], meta["sample_rate"],
                    meta["bits"], meta["n_samples"], meta["duration_ms"])
            s = meta["samples"]
            if s is None or not len(s):
                return [(*head, None, None, "metadata_only")]
            a = np.abs(s.astype(np.int64))
            return [(*head, _half_up(float(a.sum()) / a.size, 1e3),
                     int(a.max()), "ok")]
        except Exception:
            return [(doc_id, ref, 0, 0, 0, 0, 0, None, None, "decode_error")]

    return map_rows(
        audio_df.select("doc_id", "media_ref", "media_bytes"),
        "doc_id string, media_ref string, channels int, sample_rate int, "
        "bits int, n_samples long, duration_ms long, mean_abs double, "
        "peak int, status string", lambda: row)


# --- video frame sampling (the video leg of the media model) ---------------

FRAME_STRIDE = 5  # sample every k-th frame


def video_frames(video_df: DataFrame,
                 stride: int = FRAME_STRIDE) -> DataFrame:
    """Frame-sampling over Y4M video payloads: one output row per sampled
    frame (frame 0, stride, 2*stride, ...) with the frame's luma mean
    (6 dp half-up) — the pre-embedding subsample a multimodal training
    pipeline runs before a vision encoder. Size-rebalanced map_rows pass
    (video rows are the heaviest payloads in the media table — exactly
    the UDF-stage skew rebalance_by_size exists for). Corrupt or
    non-Y4M payloads yield ONE frame_no=-1 row with status
    'decode_error' (X4: visible, never a task failure)."""
    from pdf_parse_bench_spark.kernels.y4m import parse_y4m

    video_df = rebalance_by_size(video_df, size_col=F.length("media_bytes"))

    def row(doc_id, ref, b):
        try:
            v = parse_y4m(b or b"")
        except Exception:
            return [(doc_id, ref, -1, 0, 0, 0, 0, 0, None, "decode_error")]
        out = []
        for fno in range(0, v["n_frames"], stride):
            y = v["frames"][fno].astype(np.float64)
            mean = float(y.sum()) / y.size / 255.0
            out.append((doc_id, ref, fno, v["width"], v["height"],
                        v["n_frames"], v["fps_num"], v["fps_den"],
                        _half_up(mean, 1e6), "ok"))
        return out

    return map_rows(
        video_df.select("doc_id", "media_ref", "media_bytes"),
        "doc_id string, media_ref string, frame_no int, width int, "
        "height int, n_frames int, fps_num int, fps_den int, y_mean double, "
        "status string", lambda: row)
