"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode step is REAL for four image formats — binary PPM (P6),
uncompressed 24-bit BMP, baseline sequential JPEG (core/jpeg.py, a
pure-NumPy T.81 decoder incl. 4:2:0 and restart markers), and
non-interlaced 8-bit PNG (core/png.py, stdlib zlib + NumPy unfiltering,
all five filters and color types) — so the pipeline runs ``fake=False``
end-to-end on real crawl image bytes. Remaining codec variants
(progressive JPEG, interlaced PNG, audio/video codecs) raise
``NotImplementedError`` unless ``fake=True`` substitutes a deterministic
byte-histogram stand-in. The Spark-side plumbing — schema, partitioning,
Arrow batch shape, UDF signatures — is identical either way.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = ("media_id bigint, kind string, n_bytes bigint, "
                  "feature array<float>, hist array<int>")

# PPM images synthesized from document text bytes (media_from_documents)
PPM_W = PPM_H = 8
PPM_HEADER = b"P6\n%d %d\n255\n" % (PPM_W, PPM_H)
_PPM_RE = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def decode_ppm(buf: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (h, w, 3) uint8 pixels. Truncated payloads are
    zero-padded (crawl data is ragged; the operator must not throw)."""
    m = _PPM_RE.match(buf)
    if not m:
        raise ValueError("not a binary PPM (P6) payload")
    w, h, maxval = (int(m.group(i)) for i in (1, 2, 3))
    if maxval > 255:
        raise NotImplementedError("16-bit PPM not supported")
    raw = np.frombuffer(buf, dtype=np.uint8, offset=m.end())
    out = np.zeros(w * h * 3, dtype=np.uint8)
    take = min(raw.shape[0], out.shape[0])
    out[:take] = raw[:take]
    return out.reshape(h, w, 3)


def decode_bmp(buf: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP -> (h, w, 3) uint8 RGB pixels (rows are
    stored bottom-up, 4-byte aligned; stored channel order is BGR)."""
    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int(np.frombuffer(buf, np.uint32, 1, 10)[0])
    w = int(np.frombuffer(buf, np.int32, 1, 18)[0])
    h = int(np.frombuffer(buf, np.int32, 1, 22)[0])
    bpp = int(np.frombuffer(buf, np.uint16, 1, 28)[0])
    comp = int(np.frombuffer(buf, np.uint32, 1, 30)[0])
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(buf, np.uint8, stride * abs(h), off).reshape(abs(h), stride)
    bgr = rows[:, :w * 3].reshape(abs(h), w, 3)
    if h > 0:  # bottom-up
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def _decode_image(payload: bytes, fake: bool) -> np.ndarray:
    """payload bytes -> uint8 array whose value histogram is the feature
    source: decoded pixels for supported containers, raw bytes for fake."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"\xff\xd8":
        from ..core.jpeg import decode_baseline_jpeg

        return decode_baseline_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from ..core.png import decode_png

        return decode_png(payload)
    if not fake:
        raise NotImplementedError(
            "only PPM(P6)/BMP/baseline-JPEG/PNG decode in this container "
            "(no PIL/opencv — core/jpeg.py and core/png.py are pure-"
            "NumPy/stdlib decoders; progressive JPEG, interlaced PNG and "
            "sub-8-bit depths remain declared out of scope); pass "
            "fake=True for the deterministic byte-histogram stand-in")
    return np.frombuffer(payload, dtype=np.uint8)


def extract_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """binary payload -> 64-bin value histogram (``hist``, exact ints) and
    its L2-normalized float ``feature`` vector, one ``mapInPandas`` pass
    (Arrow-batched, no per-row Python pickling beyond the decode itself).

    With a codec-library decoder the inner loop would call PIL/ffmpeg per
    element — the partitioning/batching story is identical.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, hists, nbytes = [], [], []
            for payload in pdf["payload"].values:
                buf = bytes(payload or b"")
                nbytes.append(len(buf))
                px = _decode_image(buf, fake)
                h = np.bincount(px.reshape(-1) >> 2, minlength=64).astype(np.int64)
                hists.append(h.astype(np.int32))
                norm = float(np.linalg.norm(h)) or 1.0
                feats.append((h / norm).astype(np.float32))
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "kind": pdf["kind"].values,
                "n_bytes": np.array(nbytes, dtype=np.int64),
                "feature": feats,
                "hist": hists,
            })

    from ..partitioning import ensure_parallelism

    return ensure_parallelism(
        media.select("media_id", "kind", "payload")).mapInPandas(gen, schema=FEATURE_SCHEMA)


def decode_pcm16(buf: bytes) -> np.ndarray:
    """Raw little-endian 16-bit PCM -> int16 samples (trailing odd byte
    dropped — ragged crawl payloads must not throw)."""
    n = len(buf) // 2 * 2
    return np.frombuffer(buf, dtype="<i2", count=n // 2)


def resize_image(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, c) pixel array — pure NumPy
    index gather, the batch shape a real resampler would use."""
    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[ys[:, None], xs[None, :]]


def sample_frames(buf: bytes, frame_bytes: int, every: int = 2) -> list[bytes]:
    """Treat a payload as concatenated fixed-size frames and keep every
    ``every``-th one (video keyframe sampling shape; a trailing partial
    frame is dropped)."""
    n_frames = len(buf) // frame_bytes
    return [buf[i * frame_bytes:(i + 1) * frame_bytes]
            for i in range(0, n_frames, every)]


def audio_features(media: DataFrame) -> DataFrame:
    """PCM16 payloads -> exact integer features per clip: sample count,
    energy (sum of squares) and zero-crossing count. Integers by design so
    the DuckDB oracle compares hash-exactly (no float rounding)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns, energy, zc = [], [], []
            for payload in pdf["payload"].values:
                v = decode_pcm16(bytes(payload or b"")).astype(np.int64)
                ns.append(v.shape[0])
                energy.append(int((v * v).sum()))
                zc.append(int(((v[:-1] < 0) != (v[1:] < 0)).sum()) if v.shape[0] > 1 else 0)
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "kind": pdf["kind"].values,
                "n_samples": np.array(ns, dtype=np.int64),
                "energy": np.array(energy, dtype=np.int64),
                "n_zero_crossings": np.array(zc, dtype=np.int64),
            })

    from ..partitioning import ensure_parallelism

    return ensure_parallelism(
        media.select("media_id", "kind", "payload")).mapInPandas(
        gen, schema=("media_id bigint, kind string, n_samples bigint, "
                     "energy bigint, n_zero_crossings bigint"))


def audio_from_documents(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Interpret each doc's utf-8 bytes as a raw PCM16 clip — real decode
    math over the binary column path, built JVM-side."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("audio").alias("kind"),
        payload.alias("payload"),
        F.lit("audio/L16").alias("mime"),
        F.lit(0).alias("width"),
        F.lit(0).alias("height"),
        (F.floor(F.octet_length(payload) / 2 / 16)).cast("int").alias("duration_ms"),
    )


def media_from_documents(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Build a media table from the documents table: each doc's first
    w*h*3 utf-8 bytes become the pixel plane of a real binary PPM —
    exercising container parse + decode end to end on real testdata.
    Payload assembly is JVM-side (concat/substring on BINARY)."""
    n_px = PPM_W * PPM_H * 3
    payload = F.concat(F.lit(PPM_HEADER),
                       F.substring(F.encode(F.col("text"), "utf-8"), 1, n_px))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(PPM_W).alias("width"),
        F.lit(PPM_H).alias("height"),
        F.lit(0).alias("duration_ms"),
    )
