"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Decode kernels are REAL for the formats stdlib+numpy can parse —
PPM (P6), uncompressed 24-bit BMP, and PNG images (stdlib-zlib inflate
+ closed-form scanline unfilters — no PIL needed), PCM WAV audio — with
real feature extraction (block-mean grayscale grid for images,
per-window RMS energy for audio), all numpy-vectorized inside
Arrow-batched ``mapInPandas``. Formats that need codec libraries absent
from this container (JPEG via PIL/libjpeg, any video via ffmpeg) raise
NotImplementedError at the kernel — the clearly-marked remaining stub —
and ``fake=True`` substitutes a deterministic byte-derived vector so the
Spark plumbing is exercisable for those kinds too.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType, StructField, StructType,
)

from ..session import local_table

MEDIA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), False),  # opaque encoded bytes
        StructField("meta", StructType([
            StructField("mime", StringType(), True),
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
            StructField("duration_ms", IntegerType(), True),
        ]), True),
    ]
)

FEATURES = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("features", ArrayType(FloatType(), False), False),
    ]
)


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in feature vector derived from payload bytes —
    stable across runs/executors, so tests can assert exact values."""
    h = np.frombuffer(payload[: dim * 4].ljust(dim * 4, b"\0"), dtype=np.uint32)
    return (h % 1000).astype(np.float32) / 1000.0


# ------------------------------------------------------ real decoders
# (dependency-free: stdlib + numpy only)

def decode_image(payload: bytes) -> np.ndarray:
    """Encoded image bytes → (H, W, 3) uint8 RGB.

    Real decoders for the container-parseable formats: PPM P6 (binary
    portable pixmap), uncompressed 24-bit bottom-up BMP, and 8-bit PNG
    (see :func:`_decode_png`). JPEG needs codec libraries absent here →
    NotImplementedError."""
    if payload[:2] == b"P6":
        pos, fields = 2, []
        while len(fields) < 3:
            # skip whitespace and '#' comment lines between header fields
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                nl = payload.find(b"\n", pos)
                if nl < 0:
                    raise ValueError("truncated PPM header (unterminated comment)")
                pos = nl + 1
                continue
            # bounded scan: a header field must end in whitespace BEFORE the
            # payload runs out (pixel data follows the header) — an
            # unbounded scan would livelock a Spark task on one truncated
            # blob, since b''.isspace() is False forever
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            if end == pos or end >= len(payload):
                raise ValueError("truncated PPM header")
            fields.append(int(payload[pos:end]))
            pos = end
        w, h, maxval = fields
        pos += 1  # single whitespace after maxval
        if maxval != 255:
            raise NotImplementedError("PPM maxval != 255")
        return (
            np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
            .reshape(h, w, 3).copy()
        )
    if payload[:2] == b"BM":
        off = int.from_bytes(payload[10:14], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        if bpp != 24 or comp != 0:
            raise NotImplementedError(f"BMP bpp={bpp} compression={comp}")
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * abs(h), offset=off
        ).reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
        if h > 0:  # bottom-up
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR → RGB
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    raise NotImplementedError(
        "image codec not decodable without PIL (only PPM/BMP/PNG supported here)"
    )


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}  # gray, RGB, palette, RGBA
# decode cap: 64 MP ≈ 192 MB decoded RGB — rejects absurd declared
# dimensions before any allocation AND bounds worst-case sequential-
# filter (Average/Paeth) decode time per blob.
_PNG_MAX_PIXELS = 64_000_000


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure stdlib-zlib PNG decode → (H, W, 3) uint8 RGB.

    Real (not stubbed): PNG's only compression is DEFLATE, which
    ``zlib`` inflates, and the per-scanline filters (None/Sub/Up/
    Average/Paeth) are closed-form byte arithmetic. Supported: 8-bit
    depth, color types 0 (gray), 2 (RGB), 3 (palette), 6 (RGBA —
    alpha dropped), non-interlaced. 16-bit depth and Adam7 interlace
    raise NotImplementedError; malformed/truncated payloads raise
    ValueError (fail-loud, never a task livelock — the PPM lesson)."""
    import zlib

    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, interlace = ihdr[8], ihdr[9], ihdr[12]
    if depth != 8 or ctype not in _PNG_CHANNELS:
        raise NotImplementedError(f"PNG depth={depth} colortype={ctype}")
    if interlace != 0:
        raise NotImplementedError("PNG Adam7 interlace")
    ch = _PNG_CHANNELS[ctype]
    # Size gate BEFORE any inflation (ADVICE r5): a tiny crafted payload
    # (zlib bomb, or a huge declared IHDR) must not allocate gigabytes
    # on an executor before a length check fires. The expected pixel
    # byte count is closed-form from IHDR; inflate with a hard output
    # cap so an oversized stream fails at expected+1 bytes, not at its
    # full decompressed size.
    if w <= 0 or h <= 0 or w * h > _PNG_MAX_PIXELS:
        raise ValueError(f"PNG dimensions {w}x{h} outside decode bounds")
    stride = w * ch
    expected = h * (stride + 1)
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(b"".join(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT: {e}")
    if len(raw) != expected or dec.unconsumed_tail or not dec.eof:
        raise ValueError("PNG pixel data length mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    # Filters chain row-to-row, so rows decode sequentially. WITHIN a
    # row: None/Up are fully vectorized, Sub is a vectorized per-lane
    # prefix sum; Average/Paeth have a true left-to-right dependency on
    # the just-decoded left pixel, so they step PIXEL-wise (w steps of
    # ch-wide numpy ops — not per-byte; full vectorization is
    # impossible for these two filters, the recurrence is inherently
    # sequential). The _PNG_MAX_PIXELS gate above bounds worst-case
    # Paeth-heavy decode time.
    for y in range(h):
        f, row = raw[y, 0], raw[y, 1:].astype(np.int32)
        up = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        if f == 0:
            cur = row
        elif f == 2:  # Up
            cur = (row + up) & 0xFF
        elif f == 1:  # Sub: per channel lane it is a prefix sum mod 256
            cur = np.empty(stride, dtype=np.int32)
            for k in range(ch):
                cur[k::ch] = np.cumsum(row[k::ch]) & 0xFF
        elif f in (3, 4):  # Average/Paeth: pixel-stepped, ch-wide lanes
            cur = np.empty(stride, dtype=np.int32)
            upl = np.concatenate([np.zeros(ch, dtype=np.int32), up[:-ch]])
            a = np.zeros(ch, dtype=np.int32)
            for x0 in range(0, stride, ch):
                sl = slice(x0, x0 + ch)
                b = up[sl]
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = upl[sl]
                    pa = np.abs(b - c)
                    pb = np.abs(a - c)
                    pc = np.abs(a + b - 2 * c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                a = (row[sl] + pred) & 0xFF
                cur[sl] = a
        else:
            raise ValueError(f"PNG filter byte {f}")
        out[y] = cur
    px = out.reshape(h, w, ch)
    if ctype == 0:
        return np.repeat(px, 3, axis=2).copy()
    if ctype == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("paletted PNG without a valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return pal[idx].copy()
    return px[:, :, :3].copy()  # RGB passthrough / RGBA drops alpha


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (mono float32 samples in [-1, 1], sample_rate).
    PCM 16-bit via the stdlib wave module; other codecs need ffmpeg."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as wf:
            sw, ch, sr = wf.getsampwidth(), wf.getnchannels(), wf.getframerate()
            raw = wf.readframes(wf.getnframes())
    except wave.Error as e:
        raise NotImplementedError(f"audio codec not decodable without ffmpeg: {e}")
    if sw != 2:
        raise NotImplementedError(f"WAV sample width {sw} != 2 (PCM16 only)")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x, sr


def resize_block_mean(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Block-mean resize (area downsample) — the real resize kernel, pure
    numpy: rows/cols are partitioned into out_h×out_w near-equal blocks
    and each output pixel is its block's mean."""
    g = img.astype(np.float32)
    h_parts = np.array_split(np.arange(img.shape[0]), out_h)
    w_parts = np.array_split(np.arange(img.shape[1]), out_w)
    row_means = np.stack([g[idx].mean(axis=0) for idx in h_parts])
    return np.stack([row_means[:, idx].mean(axis=1) for idx in w_parts], axis=1)


def image_features(img: np.ndarray, dim: int) -> np.ndarray:
    """Grayscale block-mean grid, flattened to ``dim`` values in [0, 1]
    (a perceptual-thumbnail embedding). ``dim`` must be a square."""
    side = int(round(dim ** 0.5))
    assert side * side == dim, "image feature dim must be a perfect square"
    gray = img.astype(np.float32).mean(axis=2)
    return (resize_block_mean(gray[:, :, None], side, side)[:, :, 0] / 255.0).reshape(-1)


def audio_features(x: np.ndarray, dim: int) -> np.ndarray:
    """Per-window RMS energy over ``dim`` equal time windows."""
    if x.size == 0:
        return np.zeros(dim, dtype=np.float32)
    return np.array(
        [float(np.sqrt(np.mean(np.square(c)))) if c.size else 0.0
         for c in np.array_split(x, dim)],
        dtype=np.float32,
    )


def extract_features(media: DataFrame, dim: int = 16, fake: bool = False) -> DataFrame:
    """binary payload → feature vector via Arrow-batched mapInPandas.

    fake=False (production path): REAL decode + feature kernels —
    images (PPM/BMP/PNG) → grayscale block-mean grid, audio (PCM WAV) →
    per-window RMS energy. Kinds/codecs needing absent libraries
    (JPEG, any video) raise NotImplementedError at task time — the
    clearly-marked remaining stub. fake=True: deterministic byte-derived
    vectors for every kind, exercising the identical Spark plumbing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            feats = []
            for kind, p in zip(b["kind"], b["payload"]):
                if fake:
                    feats.append(_fake_features(p, dim).tolist())
                elif kind == "image":
                    feats.append(image_features(decode_image(bytes(p)), dim).tolist())
                elif kind == "audio":
                    feats.append(audio_features(decode_audio(bytes(p))[0], dim).tolist())
                else:
                    raise NotImplementedError(
                        "video decode requires ffmpeg, absent in this "
                        "environment; run with fake=True for plumbing tests"
                    )
            yield pd.DataFrame(
                {"media_id": b["media_id"], "kind": b["kind"], "features": feats}
            )

    return media.mapInPandas(run, schema=FEATURES)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts) —
    pure column ops on metadata; the decode of each frame is the stubbed
    kernel above. Shows the explode-then-decode shape a real pipeline uses."""
    n_frames = F.greatest((F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1))
    return media.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).select("media_id", "frame_idx", (F.col("frame_idx") * every_ms).alias("frame_ts_ms"))


def encode_ppm(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → PPM P6 bytes (the test-side encoder)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def encode_png(img: np.ndarray, filter_type=0) -> bytes:
    """(H, W, 3) uint8 RGB → PNG bytes (the test-side encoder, stdlib
    zlib + crc). ``filter_type`` applies that scanline filter to every
    row — or, given a sequence of length H, per row (real encoders mix
    filters per scanline) — so tests can exercise each decoder unfilter
    path (0-4) and their row-to-row chaining."""
    import zlib

    h, w = img.shape[:2]
    img = img.astype(np.uint8)
    ch = 3
    per_row = (
        list(filter_type) if hasattr(filter_type, "__len__") else [filter_type] * h
    )
    if len(per_row) != h:
        raise ValueError("filter_type sequence must have one entry per row")
    lines = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int32)
        filter_type = per_row[y]
        if filter_type == 0:
            enc = row
        elif filter_type == 1:
            left = np.concatenate([np.zeros(ch, dtype=np.int32), row[:-ch]])
            enc = (row - left) & 0xFF
        elif filter_type == 2:
            enc = (row - prev) & 0xFF
        elif filter_type == 3:
            left = np.concatenate([np.zeros(ch, dtype=np.int32), row[:-ch]])
            enc = (row - ((left + prev) >> 1)) & 0xFF
        elif filter_type == 4:
            left = np.concatenate([np.zeros(ch, dtype=np.int32), row[:-ch]])
            ul = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
            pa, pb, pc = (
                np.abs(prev - ul), np.abs(left - ul), np.abs(left + prev - 2 * ul)
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = (row - pred) & 0xFF
        else:
            raise ValueError(f"filter_type {filter_type}")
        lines.append(bytes([filter_type]) + enc.astype(np.uint8).tobytes())
        prev = row

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return len(data).to_bytes(4, "big") + body + (
            zlib.crc32(body) & 0xFFFFFFFF
        ).to_bytes(4, "big")

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # depth 8, RGB, deflate, adaptive, no interlace
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def encode_wav(x: np.ndarray, sample_rate: int = 8000) -> bytes:
    """mono float32 [-1, 1] → PCM16 WAV bytes (the test-side encoder)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes((np.clip(x, -1, 1) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def synthetic_media(spark, n: int = 32, real_payloads: bool = True) -> DataFrame:
    """Deterministic media table. With ``real_payloads`` images are real
    bitmaps — alternating PPM and PNG (every second image, exercising
    the zlib decode path in the Spark plumbing) — and audio real PCM
    WAVs (decodable by the production kernels); video payloads stay
    opaque bytes (no dependency-free container format — its decode is
    the disclosed stub)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        if real_payloads and kind == "image":
            yy, xx = np.mgrid[0:64, 0:64]
            img = np.stack(
                [(yy * (i + 1)) % 256, (xx * (i + 2)) % 256, (yy + xx + i) % 256],
                axis=2,
            ).astype(np.uint8)
            payload = encode_png(img, filter_type=i % 5) if (i // 3) % 2 else encode_ppm(img)
        elif real_payloads and kind == "audio":
            t = np.arange(2800, dtype=np.float32) / 8000.0
            payload = encode_wav(0.5 * np.sin(2 * np.pi * (200 + 40 * i) * t))
        else:
            payload = bytes([(i * 7 + j) % 256 for j in range(128)])
        rows.append(
            (f"m{i:04d}", kind, payload,
             {"mime": f"x/{kind}", "width": 64 if kind == "image" else None,
              "height": 64 if kind == "image" else None,
              "duration_ms": 3500 if kind != "image" else None})
        )
    return local_table(spark, rows, MEDIA)
