"""Multimodal column plumbing for training-data pipelines.

Images/audio/video are opaque ``binary`` columns with typed metadata
structs.  Two grades of decode live here:

- **REAL decoders** for formats implementable with numpy/struct alone
  (no codec libraries exist in this container): binary **PGM (P5)** and
  **PPM (P6)** images and **PCM WAV** audio are parsed for real —
  header + pixel/sample payload — and drive real feature extraction
  (ink statistics, sum-of-squares energy, peak, zero crossings).  The
  driver queries ``media_image_stats`` / ``media_audio_stats`` check
  these end-to-end against closed-form SQL oracles.
- **Stubs, clearly marked**, for compressed codecs (JPEG/MP3/MP4...):
  ``decode_media`` returns ``status='unsupported_codec'`` rows for
  anything it cannot parse.

"Video" is a length-prefixed sequence of PGM frames (``video_encode``)
— frame extraction and per-frame decode are real.
"""

from __future__ import annotations

import struct

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from tesseract_rs_spark.operators.arrow import map_docs, per_doc

MEDIA_MAGIC = b"MEDI"
# ---------------------------------------------------------------------------
# REAL decoders: PGM/PPM images, PCM WAV audio, PGM-sequence video
# ---------------------------------------------------------------------------


def pgm_encode(img: np.ndarray) -> bytes:
    """Binary PGM (P5, maxval 255) encoder — the real, public format."""
    h, w = img.shape
    return f"P5\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()


def decode_image(payload) -> tuple:
    """REAL image decode for binary PGM (P5) / PPM (P6): returns
    (gray_uint8_array | None, status).  PPM is reduced to luma with the
    same integer weights as the raster path.  Anything else (JPEG/PNG/...)
    is ``unsupported_codec`` — compressed codecs need libraries this
    container doesn't have."""
    buf = bytes(payload) if payload is not None else b""
    if len(buf) < 10 or buf[:2] not in (b"P5", b"P6"):
        return None, "unsupported_codec"
    # header: magic, whitespace-separated width/height/maxval, ONE ws byte
    parts = []
    i = 2
    while len(parts) < 3 and i < len(buf):
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":  # comment line
            while i < len(buf) and buf[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        parts.append(buf[i:j])
        i = j
    i += 1  # the single whitespace after maxval
    try:
        w, h, maxval = (int(p) for p in parts)
    except ValueError:
        return None, "invalid_image_data"
    if w <= 0 or h <= 0 or maxval != 255:
        return None, "invalid_image_data"
    ch = 3 if buf[:2] == b"P6" else 1
    if len(buf) - i < w * h * ch:
        return None, "invalid_image_data"
    arr = np.frombuffer(buf, dtype=np.uint8, offset=i, count=w * h * ch)
    if ch == 3:
        rgb = arr.reshape(h, w, 3).astype(np.uint32)
        return (
            (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
        ).astype(np.uint8), "ok"
    return arr.reshape(h, w), "ok"


def wav_encode(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + 16-bit mono PCM — the real,
    public format."""
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_audio(payload) -> tuple:
    """REAL WAV decode (PCM16 mono/stereo): walks the RIFF chunk list to
    the fmt/data chunks; returns (int16 samples | None, sample_rate,
    status).  Compressed audio (MP3/AAC/...) is ``unsupported_codec``."""
    buf = bytes(payload) if payload is not None else b""
    if len(buf) < 44 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None, 0, "unsupported_codec"
    pos, sr, bits, channels, data = 12, 0, 0, 0, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # truncated fmt chunk — stay total
                return None, 0, "invalid_audio_data"
            fmt, channels, sr = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt != 1:  # non-PCM needs a codec
                return None, 0, "unsupported_codec"
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if data is None or bits != 16 or channels < 1:
        return None, 0, "invalid_audio_data"
    samples = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")
    if channels > 1:
        samples = samples[: len(samples) // channels * channels]
        samples = samples.reshape(-1, channels).mean(axis=1).astype(np.int16)
    return samples, sr, "ok"


def video_encode(frames: list) -> bytes:
    """Length-prefixed PGM frame sequence: u32 frame count, then per frame
    u32 byte length + PGM bytes.  Frame extraction is real."""
    out = [b"VSEQ", struct.pack("<I", len(frames))]
    for f in frames:
        pgm = pgm_encode(f)
        out.append(struct.pack("<I", len(pgm)))
        out.append(pgm)
    return b"".join(out)


def decode_frame(payload, k: int) -> tuple:
    """Extract and decode frame ``k`` of a VSEQ video payload."""
    buf = bytes(payload)
    if buf[:4] != b"VSEQ" or len(buf) < 8:
        return None, "unsupported_codec"
    (n,) = struct.unpack_from("<I", buf, 4)
    if not 0 <= k < n:
        return None, "frame_out_of_range"
    pos = 8
    for i in range(n):
        if pos + 4 > len(buf):  # truncated frame table — stay total
            return None, "invalid_video_data"
        (size,) = struct.unpack_from("<I", buf, pos)
        if i == k:
            return decode_image(buf[pos + 4 : pos + 4 + size])
        pos += 4 + size
    return None, "invalid_video_data"


def image_stats(media: DataFrame, id_col: str = "media_id", col: str = "payload") -> DataFrame:
    """REAL image feature extraction over decoded pixels:
    (id, status, width, height, n_ink_px, sum_px).  ``n_ink_px`` counts
    exactly-ink pixels (the rendered-glyph mass — closed-form from the
    source text, hence SQL-oracle-able); ``sum_px`` is the exact integer
    pixel sum."""
    from tesseract_rs_spark.kernels.raster import INK

    def row(payload) -> tuple:
        img, st = decode_image(payload)
        if img is None:
            return st, 0, 0, 0, 0
        return (
            st, img.shape[1], img.shape[0], int((img == INK).sum()),
            int(img.sum(dtype=np.int64)),
        )

    return map_docs(
        media, (id_col,), col,
        "status string, width long, height long, n_ink_px long, sum_px long",
        per_doc(row),
    )


def audio_stats(media: DataFrame, id_col: str = "media_id", col: str = "payload") -> DataFrame:
    """REAL audio feature extraction over decoded PCM:
    (id, status, sample_rate, n_samples, sumsq, peak, zero_crossings) —
    all exact integers, so cross-engine comparison is byte-stable."""

    def row(payload) -> tuple:
        s, sr, st = decode_audio(payload)
        if s is None or len(s) == 0:
            return st, sr, 0, 0, 0, 0
        s64 = s.astype(np.int64)
        zc = int(((s64[:-1] >= 0) != (s64[1:] >= 0)).sum())
        return st, sr, len(s), int((s64 * s64).sum()), int(np.abs(s64).max()), zc

    return map_docs(
        media, (id_col,), col,
        "status string, sample_rate long, n_samples long, sumsq long, "
        "peak long, zero_crossings long",
        per_doc(row),
    )


def media_header(payload) -> tuple:
    """Total per-payload header parse -> (width, height, n_frames, status).
    This is the branch ``decode_media`` runs per row; kept module-level so
    totality is directly fuzz-testable (ADVICE r2: struct.error escapes)."""
    buf = bytes(payload) if payload is not None else b""
    head = buf[:4]
    if head == MEDIA_MAGIC:
        if len(buf) < 24:  # truncated MEDI header — stay total
            return 0, 0, 0, "invalid_media_data"
        w, h, _sr, _dur, frames = struct.unpack_from("<iiiii", buf, 4)
        return w, h, frames, "ok"
    if head[:2] in (b"P5", b"P6"):
        img, st = decode_image(buf)
        if img is None:
            return 0, 0, 0, st
        return img.shape[1], img.shape[0], 1, st
    if head == b"RIFF":
        s, _sr, st = decode_audio(buf)
        return 0, 0, len(s) if s is not None else 0, st
    if head == b"VSEQ":
        if len(buf) < 8:  # truncated count — stay total
            return 0, 0, 0, "invalid_video_data"
        (n,) = struct.unpack_from("<I", buf, 4)
        img, st = decode_frame(buf, 0)
        if img is None:
            return 0, 0, n, st
        return img.shape[1], img.shape[0], n, st
    # compressed codecs (JPEG/MP3/MP4...) intentionally unimplemented —
    # no codec libs in this container
    return 0, 0, 0, "unsupported_codec"


def video_stats(
    media: DataFrame, id_col: str = "media_id", col: str = "payload", frame: int = 0
) -> DataFrame:
    """REAL video feature extraction: VSEQ header parse + real decode of
    frame ``frame`` -> (id, status, n_frames, width, height, n_ink_px).
    Ink mass is the same closed-form glyph arithmetic as image_stats, so
    the whole row is SQL-oracle-able."""
    from tesseract_rs_spark.kernels.raster import INK

    def row(payload) -> tuple:
        buf = bytes(payload) if payload is not None else b""
        if buf[:4] != b"VSEQ" or len(buf) < 8:
            return "unsupported_codec", 0, 0, 0, 0
        (n,) = struct.unpack_from("<I", buf, 4)
        img, st = decode_frame(buf, frame)
        if img is None:
            return st, n, 0, 0, 0
        return "ok", n, img.shape[1], img.shape[0], int((img == INK).sum())

    return map_docs(
        media, (id_col,), col,
        "status string, n_frames long, width long, height long, n_ink_px long",
        per_doc(row),
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Parse payload headers -> (media_id, kind, width, height, n_frames,
    status).  STUB: only the synthetic MEDI container is implemented; a
    real deployment would dispatch to PIL/ffmpeg here."""

    return map_docs(
        media, ("media_id", "kind"), "payload",
        "width long, height long, n_frames long, status string",
        per_doc(media_header),
    )


def sample_frames(media: DataFrame, every_k: int = 30) -> DataFrame:
    """(media_id, frame_idx) for videos: every k-th frame plus the last —
    pure JVM sequence/explode, no Python."""
    v = media.filter(F.col("kind") == "video")
    idxs = F.array_distinct(
        F.concat(
            F.sequence(
                F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_k)
            ),
            F.array(F.greatest(F.col("meta.n_frames") - 1, F.lit(0))),
        )
    )
    return v.select(
        "media_id", F.explode(idxs).alias("frame_idx")
    ).withColumn("frame_idx", F.col("frame_idx").cast("long"))


def resize_gray(img: np.ndarray, out_w: int, out_h: int, method: str = "area") -> np.ndarray:
    """REAL deterministic resample of a gray uint8 image — pure integer/
    numpy, no image libraries.  ``nearest``: index-map sampling, any
    target size, up or down.  ``area``: box-mean downscale (the
    anti-aliased choice for thumbnailing OCR pages), requiring integer
    scale factors — the restriction keeps the arithmetic exact
    (floor-of-mean per box) instead of silently interpolating; raise,
    don't guess, on non-integer factors."""
    h, w = img.shape
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"target dims must be positive, got {out_w}x{out_h}")
    if method == "nearest":
        ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
        xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
        return img[np.ix_(ys, xs)]
    if method == "area":
        if h % out_h or w % out_w:
            raise ValueError(
                f"area resize needs integer factors: {w}x{h} -> "
                f"{out_w}x{out_h} (use method='nearest' for arbitrary "
                "targets)"
            )
        fy, fx = h // out_h, w // out_w
        boxes = img.reshape(out_h, fy, out_w, fx).astype(np.uint32)
        return (boxes.sum(axis=(1, 3)) // (fy * fx)).astype(np.uint8)
    raise ValueError(f"method must be 'nearest' or 'area', got {method!r}")


def resize_images(
    media: DataFrame,
    out_w: int | None = None,
    out_h: int | None = None,
    method: str = "area",
    id_col: str = "media_id",
    col: str = "payload",
    scale: int | None = None,
) -> DataFrame:
    """(id, payload, width, height, status): decode each PGM/PPM image,
    resample with :func:`resize_gray`, re-encode as binary PGM.  Target
    is EITHER fixed dims ``(out_w, out_h)`` (thumbnail grids, model
    input shapes) or a per-image integer ``scale`` factor (each image's
    own dims times ``scale`` — e.g. 2× nearest upscale replicates every
    pixel exactly scale² times).  Total function — undecodable payloads
    and non-integer area factors become status rows
    (``unsupported_codec`` / ``invalid_image_data`` / ``bad_geometry``),
    never exceptions, so one corrupt image cannot kill a 100 TB job.
    Map-only (no shuffle), Arrow-batched; output bytes per row are
    out_w × out_h + header (fixed mode) or scale² × input."""
    if method not in ("nearest", "area"):
        raise ValueError(f"method must be 'nearest' or 'area', got {method!r}")
    fixed = out_w is not None or out_h is not None
    if fixed == (scale is not None):
        raise ValueError(
            "pass exactly one target: (out_w, out_h) or scale="
        )
    if fixed and (out_w is None or out_h is None or out_w <= 0 or out_h <= 0):
        raise ValueError(f"target dims must be positive, got {out_w}x{out_h}")
    if scale is not None and scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    if scale is not None and scale > 1 and method == "area":
        # statically impossible: area is a box-mean DOWNSCALE kernel and
        # scale-mode targets h*scale > h, so every row would degrade to
        # a bad_geometry status — refuse up front instead (review r6)
        raise ValueError(
            "area resize is a downscale kernel; scale mode upscales — "
            "use method='nearest' with scale=, or fixed (out_w, out_h) "
            "for area downscaling"
        )

    def row(payload) -> tuple:
        img, st = decode_image(payload)
        if img is None:
            return None, 0, 0, st
        tw, th = (
            (out_w, out_h)
            if fixed
            else (img.shape[1] * scale, img.shape[0] * scale)
        )
        try:
            return pgm_encode(resize_gray(img, tw, th, method)), tw, th, "ok"
        except ValueError:
            return None, 0, 0, "bad_geometry"

    return map_docs(
        media, (id_col,), col,
        f"{col} binary, width long, height long, status string",
        per_doc(row),
    )
