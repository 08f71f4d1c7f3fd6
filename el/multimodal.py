"""Multimodal column plumbing (task brief: first-class component).

Images/audio/video are opaque ``binary`` columns with typed metadata.
This container has no image/audio codecs, so the DECODE step is
stubbed exactly as mandated: header parsing, schema, partitioning,
Arrow batch shape, and the feature pipeline are real and tested; the
pixel/sample decode raises NotImplementedError behind a clearly-marked
flag, with a deterministic fake-feature path for tests.

Blob format (synthetic, deterministic per id):
  bytes 0-3   magic  b'IMG1'
  bytes 4-7   width  uint32 little-endian
  bytes 8-11  height uint32 little-endian
  bytes 12..  payload (splitmix64 byte stream keyed by id)
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.hashing import h64, splitmix64

MAGIC = b"IMG1"

BLOB_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def gen_blobs(spark: SparkSession, n: int, payload_bytes: int = 256) -> DataFrame:
    """Deterministic synthetic blob table (pure function of id)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                w = int(16 + (h64(np.array([i]), 1)[0] % 241))
                h = int(16 + (h64(np.array([i]), 2)[0] % 241))
                n_words = (payload_bytes + 7) // 8
                with np.errstate(over="ignore"):
                    words = splitmix64(
                        np.arange(n_words, dtype=np.uint64)
                        + np.uint64(i) * np.uint64(0x9E3779B97F4A7C15)
                    )
                payload = words.tobytes()[:payload_bytes]
                content = MAGIC + struct.pack("<II", w, h) + payload
                rows.append((int(i), "image", content))
            yield pd.DataFrame(rows, columns=["blob_id", "media_type", "content"])

    return spark.range(n).mapInPandas(gen, schema=BLOB_SCHEMA)


def extract_meta(blobs: DataFrame) -> DataFrame:
    """Parse typed metadata from the binary header (vectorized batch
    kernel; malformed blobs -> valid=false, never an executor error)."""

    def gen(batches):
        for pdf in batches:
            out = []
            for bid, mt, content in zip(
                pdf["blob_id"], pdf["media_type"], pdf["content"]
            ):
                b = bytes(content) if content is not None else b""
                if len(b) >= 12 and b[:4] == MAGIC:
                    w, h = struct.unpack("<II", b[4:12])
                    out.append((int(bid), mt, int(w), int(h), len(b), True))
                else:
                    out.append((int(bid), mt, None, None, len(b), False))
            yield pd.DataFrame(
                out,
                columns=[
                    "blob_id", "media_type", "width", "height", "n_bytes", "valid",
                ],
            )

    return blobs.mapInPandas(gen, schema=META_SCHEMA)


# Decode status: the synthetic IMG1 format
# needs no codec — its payload is a raw byte stream, so decode is pure
# numpy and IS implemented below. REAL codec formats (jpeg/png/audio)
# remain environment-blocked: no PIL/opencv in this container; wire
# `decode_pixels_codec` to the codec when one is present.


def decode_pixels(content) -> np.ndarray:
    """Decode a synthetic IMG1 blob into an (height, width) uint8
    grayscale array.

    IMG1 decode spec: pixel (r, c) = payload[(r*width + c) mod
    len(payload)] — the payload byte stream tiled row-major across the
    image. Pure numpy, deterministic, no codec. Malformed input raises
    ValueError (callers flag, never crash executors)."""
    b = bytes(content) if content is not None else b""
    if len(b) < 12 or b[:4] != MAGIC:
        raise ValueError("not an IMG1 blob")
    w, h = struct.unpack("<II", b[4:12])
    payload = np.frombuffer(b[12:], dtype=np.uint8)
    if w == 0 or h == 0 or payload.size == 0:
        raise ValueError("empty IMG1 image or payload")
    n = w * h
    reps = -(-n // payload.size)  # ceil
    return np.tile(payload, reps)[:n].reshape(h, w)


def decode_pixels_codec(content):  # pragma: no cover - env-blocked stub
    raise NotImplementedError(
        "real-codec pixel decode (jpeg/png/...) requires an image codec "
        "not present in this container; the synthetic IMG1 format is "
        "decoded by decode_pixels()"
    )


FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)


def image_features(blobs: DataFrame, bins: int = FEATURE_DIM) -> DataFrame:
    """Decode -> feature-extract pipeline over the binary column: each
    IMG1 blob is DECODED to its pixel array (decode_pixels) and reduced
    to a normalized ``bins``-bin intensity histogram (sums to 1).
    Malformed blobs yield decoded=false with a zero vector — a bad row
    never kills the executor. One vectorized mapInPandas pass; the
    histogram is numpy.bincount over the decoded pixels."""

    def gen(batches):
        for pdf in batches:
            ids, feats, ok = [], [], []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                try:
                    px = decode_pixels(content)
                    hist = np.bincount(
                        (px.ravel().astype(np.int64) * bins) >> 8,
                        minlength=bins,
                    ).astype(np.float64)
                    feats.append((hist / px.size).astype(np.float32))
                    ok.append(True)
                except ValueError:
                    feats.append(np.zeros(bins, dtype=np.float32))
                    ok.append(False)
                ids.append(int(bid))
            yield pd.DataFrame(
                {"blob_id": ids, "features": feats, "decoded": ok}
            )

    return blobs.mapInPandas(gen, schema=IMAGE_FEATURES_SCHEMA)


def feature_stub(blobs: DataFrame) -> DataFrame:
    """Deterministic fake feature vector per blob (stands in for the
    decode->embed step; same schema/partitioning/batch shape as the
    real thing would have)."""

    def gen(batches):
        for pdf in batches:
            ids, feats = [], []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                b = bytes(content) if content is not None else b""
                arr = np.frombuffer(b[12 : 12 + FEATURE_DIM * 8], dtype=np.uint64)
                if arr.size < FEATURE_DIM:
                    arr = np.pad(arr, (0, FEATURE_DIM - arr.size))
                feats.append((arr.astype(np.float64) / 2**64).astype(np.float32))
                ids.append(int(bid))
            yield pd.DataFrame({"blob_id": ids, "features": feats})

    return blobs.mapInPandas(gen, schema=FEATURES_SCHEMA)


# -- resize (decode -> nearest-neighbor -> re-encode) --------------------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def resize_pixels(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize: source index
    ``(r*in_h)//out_h, (c*in_w)//out_w`` — integer arithmetic only, so
    results are bit-identical everywhere. Pure function shared by the
    Spark kernel and the pytest oracle."""
    in_h, in_w = px.shape
    r_idx = (np.arange(out_h, dtype=np.int64) * in_h) // out_h
    c_idx = (np.arange(out_w, dtype=np.int64) * in_w) // out_w
    return px[np.ix_(r_idx, c_idx)]


def encode_img1(px: np.ndarray) -> bytes:
    """Re-encode a pixel array as an IMG1 blob. The payload carries
    exactly width*height bytes, so ``decode_pixels(encode_img1(px))
    == px`` (the tiling in the decode spec is the identity here)."""
    h, w = px.shape
    return MAGIC + struct.pack("<II", w, h) + px.astype(np.uint8).tobytes()


def resize_images(
    blobs: DataFrame, out_w: int = 16, out_h: int = 16
) -> DataFrame:
    """Decode -> nearest-neighbor resize -> re-encode, one vectorized
    mapInPandas pass (the thumbnail/normalize step of an image
    training pipeline). Malformed blobs yield (content=NULL,
    valid=false) — never an executor crash. Output blobs are valid
    IMG1, so the result composes with image_features/resize again."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                try:
                    out = encode_img1(
                        resize_pixels(decode_pixels(content), out_w, out_h)
                    )
                    rows.append((int(bid), out, out_w, out_h, True))
                except ValueError:
                    rows.append((int(bid), None, out_w, out_h, False))
            yield pd.DataFrame(
                rows,
                columns=["blob_id", "content", "width", "height", "valid"],
            )

    return blobs.mapInPandas(gen, schema=RESIZED_SCHEMA)


# -- perceptual hashing + image near-dup (mm6) ---------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def dhash_py(px: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    """64-bit difference hash (the classic perceptual image sketch):
    nearest-neighbor resize to (hash_h, hash_w+1), bit (r, c) set iff
    ``px[r, c+1] > px[r, c]``, packed row-major MSB-first. Integer
    arithmetic only (the NN resize is index math), so the sketch is
    bit-identical everywhere — unlike DCT pHash, no float transform
    to drift across BLAS builds. Returned as signed int64 (LongType).
    Pure function shared by the Spark kernel and the pytest parity
    reference."""
    small = resize_pixels(px, hash_w + 1, hash_h)
    bits = (small[:, 1:] > small[:, :-1]).astype(np.uint8).ravel()
    word = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return int(np.uint64(word).astype(np.int64))


def dhash_images(
    blobs: DataFrame, hash_w: int = 8, hash_h: int = 8
) -> DataFrame:
    """(blob_id, dhash, valid) via one vectorized mapInPandas pass —
    decode + resize + compare stay inside the Arrow batch; malformed
    blobs yield (dhash=NULL, valid=false), never an executor crash."""
    if hash_w * hash_h != 64:
        raise ValueError("dhash must pack exactly 64 bits")

    def gen(batches):
        for pdf in batches:
            rows = []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                try:
                    h = dhash_py(decode_pixels(content), hash_w, hash_h)
                    rows.append((int(bid), h, True))
                except ValueError:
                    rows.append((int(bid), None, False))
            yield pd.DataFrame(rows, columns=["blob_id", "dhash", "valid"])

    return blobs.select("blob_id", "content").mapInPandas(
        gen, schema=DHASH_SCHEMA
    )


def image_neardup_pairs(
    blobs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate image pairs: dHash sketch -> the same 4x16-band
    + JVM-popcount verify core as text SimHash (el.dedup.
    hamming_band_pairs — complete for max_hamming <= 3). This is the
    image leg of a training-data dedup stack: re-encoded / slightly
    retouched copies keep Hamming(dhash) small while distinct images
    land ~32 bits apart.

    ``max_bucket`` defaults to None (exact) rather than the text-side
    production cap: pixel sketches have no Zipfian hot keys — a hot
    dhash band IS a duplicate cluster, which is the signal itself.
    Pass a cap for adversarial corpora (e.g. tiled single-color
    crops). Scale: after the one decode pass only (id, 8-byte sketch)
    shuffles; pixels never leave the scan stage."""
    from el.dedup import hamming_band_pairs

    h = dhash_images(blobs).where(F.col("valid")).select("blob_id", "dhash")
    return hamming_band_pairs(
        h,
        hash_col="dhash",
        id_col="blob_id",
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


# -- audio fingerprinting + audio near-dup (mm7) -------------------------

AFP_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def afp_py(x: np.ndarray, n_bits: int = 64) -> int:
    """64-bit audio fingerprint: the dHash idea applied to the energy
    envelope (Haitsma-Kalker-style sign-of-delta bits). The stream is
    cut into ``n_bits + 1`` equal-length frames by index math; bit i
    is set iff energy(frame[i+1]) > energy(frame[i]), packed MSB-
    first. Invariant to uniform gain (scaling every sample scales
    every frame energy by the same factor — the deltas keep their
    signs), which is exactly the re-encode/normalize transform that
    makes byte-level dedup miss audio copies. Deterministic: frame
    boundaries are integer index math and each frame's energy is a
    fixed-order float64 sum over a contiguous slice. Returns signed
    int64 (LongType). Raises ValueError when the stream is too short
    to frame. Pure function shared by the Spark kernel and the pytest
    parity reference."""
    n_frames = n_bits + 1
    if x.size < n_frames:
        raise ValueError("stream too short to fingerprint")
    edges = (np.arange(n_frames + 1) * x.size) // n_frames
    sq = np.concatenate(([0.0], np.cumsum(x.astype(np.float64) ** 2)))
    energy = (sq[edges[1:]] - sq[edges[:-1]]) / np.diff(edges)
    bits = (energy[1:] > energy[:-1]).astype(np.uint8)
    word = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return int(np.uint64(word).astype(np.int64))


def audio_fingerprints(blobs: DataFrame, n_bits: int = 64) -> DataFrame:
    """(blob_id, afp, valid) in one vectorized mapInPandas pass —
    decode + envelope + sign bits stay inside the Arrow batch;
    malformed/too-short blobs yield (afp=NULL, valid=false), never an
    executor crash."""
    if n_bits != 64:
        raise ValueError("afp packs exactly 64 bits (LongType sketch)")

    def gen(batches):
        for pdf in batches:
            rows = []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                try:
                    _, x = decode_samples(content)
                    rows.append((int(bid), afp_py(x, n_bits), True))
                except ValueError:
                    rows.append((int(bid), None, False))
            yield pd.DataFrame(rows, columns=["blob_id", "afp", "valid"])

    return blobs.select("blob_id", "content").mapInPandas(
        gen, schema=AFP_SCHEMA
    )


def audio_neardup_pairs(
    blobs: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate audio pairs: energy-envelope fingerprint -> the
    same 4x16-band + JVM-popcount verify core as text SimHash and
    image dHash (el.dedup.hamming_band_pairs — complete for
    max_hamming <= 3). Completes the multimodal leg of the dedup
    stack: gain-normalized / re-encoded copies keep Hamming(afp)
    small while independent streams land ~32 bits apart.

    ``max_bucket`` defaults to None for the same reason as mm6:
    envelope sketches have no Zipfian hot keys — a hot band IS a
    duplicate cluster. Scale: after the one decode pass only
    (id, 8-byte sketch) shuffles; samples never leave the scan
    stage."""
    from el.dedup import hamming_band_pairs

    h = audio_fingerprints(blobs).where(F.col("valid")).select(
        "blob_id", "afp"
    )
    return hamming_band_pairs(
        h,
        hash_col="afp",
        id_col="blob_id",
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


# -- video frame sampling (VID1; UDTF-shaped 1 -> N) ---------------------

VID_MAGIC = b"VID1"

# VID1 spec (synthetic, deterministic per id):
#   bytes 0-3    magic  b'VID1'
#   bytes 4-7    width  uint32 LE
#   bytes 8-11   height uint32 LE
#   bytes 12-15  n_frames uint32 LE
#   bytes 16..   frames: n_frames contiguous w*h uint8 grayscale planes

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)


def gen_video_blobs(
    spark: SparkSession, n: int, w: int = 24, h: int = 16, frames: int = 12
) -> DataFrame:
    """Deterministic synthetic VID1 table (pure function of id)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                n_bytes = w * h * frames
                n_words = (n_bytes + 7) // 8
                with np.errstate(over="ignore"):
                    words = splitmix64(
                        np.arange(n_words, dtype=np.uint64)
                        + np.uint64(i) * np.uint64(0xD1B54A32D192ED03)
                    )
                payload = words.tobytes()[:n_bytes]
                content = (
                    VID_MAGIC + struct.pack("<III", w, h, frames) + payload
                )
                rows.append((int(i), "video", content))
            yield pd.DataFrame(
                rows, columns=["blob_id", "media_type", "content"]
            )

    return spark.range(n).mapInPandas(gen, schema=BLOB_SCHEMA)


def decode_frame(content, idx: int) -> np.ndarray:
    """Decode one VID1 frame to an (h, w) uint8 array. Malformed or
    out-of-range raises ValueError."""
    b = bytes(content) if content is not None else b""
    if len(b) < 16 or b[:4] != VID_MAGIC:
        raise ValueError("not a VID1 blob")
    w, h, n_frames = struct.unpack("<III", b[4:16])
    if w == 0 or h == 0 or not (0 <= idx < n_frames):
        raise ValueError("bad VID1 dims or frame index")
    fsz = w * h
    start = 16 + idx * fsz
    frame = np.frombuffer(b[start : start + fsz], dtype=np.uint8)
    if frame.size < fsz:
        raise ValueError("truncated VID1 payload")
    return frame.reshape(h, w)


def sample_frames(blobs: DataFrame, every_k: int = 4) -> DataFrame:
    """UDTF-shaped 1 -> N op: emit every k-th frame of each VID1 blob
    as a standalone IMG1 blob (frame 0 always included), so sampled
    frames feed straight into image_features/resize_images. Malformed
    blobs emit no rows (upstream extract_meta flags them). One
    vectorized mapInPandas pass; at 100 TB the fan-out is bounded by
    n_frames/k per row and the op is embarrassingly parallel."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                b = bytes(content) if content is not None else b""
                if len(b) < 16 or b[:4] != VID_MAGIC:
                    continue
                n_frames = struct.unpack("<I", b[12:16])[0]
                for idx in range(0, n_frames, every_k):
                    try:
                        frame = decode_frame(b, idx)
                    except ValueError:
                        break
                    rows.append((int(bid), idx, encode_img1(frame)))
            yield pd.DataFrame(
                rows, columns=["blob_id", "frame_idx", "content"]
            )

    return blobs.mapInPandas(gen, schema=FRAMES_SCHEMA)


# -- audio decode + frame features (AUD1) --------------------------------

AUD_MAGIC = b"AUD1"

# AUD1 spec (synthetic, deterministic per id):
#   bytes 0-3    magic  b'AUD1'
#   bytes 4-7    sample_rate uint32 LE
#   bytes 8-11   n_samples   uint32 LE
#   bytes 12..   samples: n_samples int16 LE PCM

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("blob_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
        T.StructField("frame_rms", T.ArrayType(T.FloatType()), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def gen_audio_blobs(
    spark: SparkSession, n: int, sample_rate: int = 8000,
    n_samples: int = 2048,
) -> DataFrame:
    """Deterministic synthetic AUD1 table (pure function of id)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                n_words = (n_samples * 2 + 7) // 8
                with np.errstate(over="ignore"):
                    words = splitmix64(
                        np.arange(n_words, dtype=np.uint64)
                        + np.uint64(i) * np.uint64(0xBF58476D1CE4E5B9)
                    )
                payload = words.tobytes()[: n_samples * 2]
                content = (
                    AUD_MAGIC
                    + struct.pack("<II", sample_rate, n_samples)
                    + payload
                )
                rows.append((int(i), "audio", content))
            yield pd.DataFrame(
                rows, columns=["blob_id", "media_type", "content"]
            )

    return spark.range(n).mapInPandas(gen, schema=BLOB_SCHEMA)


def decode_samples(content) -> tuple[int, np.ndarray]:
    """Decode an AUD1 blob -> (sample_rate, float64 samples in
    [-1, 1)). Pure numpy (int16 / 32768), no codec. Malformed input
    raises ValueError (callers flag, never crash executors). Real
    codec formats (mp3/flac/wav-pcm-float...) remain environment-
    blocked exactly like decode_pixels_codec."""
    b = bytes(content) if content is not None else b""
    if len(b) < 12 or b[:4] != AUD_MAGIC:
        raise ValueError("not an AUD1 blob")
    sr, n = struct.unpack("<II", b[4:12])
    if sr == 0 or n == 0:
        raise ValueError("empty AUD1 stream")
    raw = np.frombuffer(b[12:], dtype="<i2")
    if raw.size < n:
        raise ValueError("truncated AUD1 payload")
    return int(sr), raw[:n].astype(np.float64) / 32768.0


def audio_features(blobs: DataFrame, frame: int = 256) -> DataFrame:
    """Decode -> per-blob audio features in one vectorized mapInPandas
    pass: duration, global RMS/peak, zero-crossing rate, and a
    ``frame_rms`` envelope (RMS per ``frame``-sample window, the
    audio analogue of sample_frames). Malformed blobs yield
    valid=false with NULL features — a bad row never kills the
    executor. At 100 TB the op is embarrassingly parallel: no
    shuffle, output is O(n_samples/frame) floats per row."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for bid, content in zip(pdf["blob_id"], pdf["content"]):
                try:
                    sr, x = decode_samples(content)
                except ValueError:
                    rows.append(
                        (int(bid), None, None, None, None, None, None,
                         False)
                    )
                    continue
                n = x.size
                nf = n // frame
                fr = (
                    np.sqrt(
                        np.mean(
                            x[: nf * frame].reshape(nf, frame) ** 2, axis=1
                        )
                    ).astype(np.float32)
                    if nf
                    else np.zeros(0, dtype=np.float32)
                )
                rows.append(
                    (
                        int(bid),
                        sr,
                        n / sr,
                        float(np.sqrt(np.mean(x**2))),
                        float(np.max(np.abs(x))),
                        float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                        if n > 1
                        else 0.0,  # a 1-sample stream has no crossings
                        fr,
                        True,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "blob_id", "sample_rate", "duration_sec", "rms",
                    "peak", "zcr", "frame_rms", "valid",
                ],
            )

    return blobs.mapInPandas(gen, schema=AUDIO_FEATURES_SCHEMA)


def video_neardup_pairs(
    blobs: DataFrame,
    every_k: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate VIDEO pairs by shared frame fingerprints — the
    video leg of the dedup stack `[PK: content-based copy detection
    via per-frame perceptual hashes + matched-frame counting, the
    classic CBCD design (Hampapur & Bolle, "Comparison of distance
    measures for video copy detection", ICME 2001 and the frame-
    signature literature); composition of this repo's mm4 frame
    sampling, mm6 dHash, and the dd9 posting-join shape]`: two videos
    are near-dup candidates when >= ``min_shared`` of their sampled
    frames carry the SAME 64-bit dHash — re-encoded copies, trims and
    re-intros keep whole runs of identical frame sketches, while
    distinct footage shares none.

    Plan (linear, the dd9 discipline): VID1 frame sampling (every
    ``every_k``-th frame, UDTF-shaped) -> per-frame dHash inside the
    same Arrow pass family as mm6 -> DISTINCT (video, dhash) postings
    (a fingerprint counts once per video — containment semantics,
    the dc1 distinct-gram discipline) -> optional deterministic
    hot-bucket cap (``max_bucket``; None = exact, the mm6 rationale:
    a hot frame-hash IS a duplicate signal, cap only for adversarial
    corpora like black-frame padding) -> dhash equi-join with
    a_id < b_id -> pair-count groupBy. Returns ``(a_id, b_id,
    n_shared, n_a, n_b)`` — all exact BIGINTs, so containment
    (n_shared / min(n_a, n_b)) and Jaccard are one division away.

    Scale: after the one decode pass only (video_id, 8-byte sketch)
    postings shuffle; pixels never leave the scan stage; the pair
    join is bounded per fingerprint by the cap when set."""
    from el.dedup import cap_bucket_members

    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    frames = sample_frames(blobs, every_k=every_k)
    fps = (
        dhash_images(frames)
        .where(F.col("valid"))
        .select("blob_id", "dhash")
        .distinct()
    )
    sizes = fps.groupBy("blob_id").agg(
        F.count("*").cast("long").alias("n_fp")
    )
    posts = fps
    if max_bucket is not None:
        posts = cap_bucket_members(
            posts, key_col="dhash", id_col="blob_id", cap=max_bucket
        )
    a = posts.select(F.col("blob_id").alias("a_id"), "dhash")
    b = posts.select(F.col("blob_id").alias("b_id"), "dhash")
    pairs = (
        a.join(b, on="dhash")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )
    return (
        pairs.join(
            sizes.select(F.col("blob_id").alias("a_id"),
                         F.col("n_fp").alias("n_a")),
            on="a_id",
        )
        .join(
            sizes.select(F.col("blob_id").alias("b_id"),
                         F.col("n_fp").alias("n_b")),
            on="b_id",
        )
        .select("a_id", "b_id", "n_shared", "n_a", "n_b")
    )
