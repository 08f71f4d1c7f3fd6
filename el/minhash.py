"""MinHash signatures + LSH band block keys (SURVEY.md §2.9 V3).

Implements the north-star's "minhash/LSH bands over TF-IDF shingles"
blocking strategy (BASELINE.json north_star): each mention's context
is shingled into character k-grams, the shingle set is minhashed with
m = bands*rows seeded universal hash functions, and each band of the
signature becomes one block key ``lsh:<band>:<hash(band slice)>``.
Two mentions whose contexts have Jaccard similarity s collide in at
least one band with probability 1-(1-s^rows)^bands (Broder 1997;
MMDS ch.3).

Scale design:
- all hashing is vectorized numpy inside ``mapInPandas`` ACROSS the
  whole Arrow batch (``band_keys_batch``: one flat byte stream, one
  FNV fold, per-row minima via ``np.minimum.reduceat`` — no per-row
  Python in the hash path at all); no RNG state (seeded splitmix64
  streams from el.hashing, so signatures are pure functions of the
  text — deterministic across runs / partitionings / parallelism,
  §4.4);
- output is 'bands' rows per mention, produced Python-side and
  shuffled only once when downstream blocking groups by block_key;
- an alternative (pyspark.ml.feature.MinHashLSH) was rejected for
  VectorUDT friction at table boundaries (SURVEY.md V3): plain
  string keys compose with the other blocking strategies via a
  simple unionByName.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.hashing import splitmix64
from el.schemas import BLOCK_KEYS

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct uint64 hashes of the k-char shingles of ``text``.

    FNV-1a over a sliding window, fully vectorized: build the
    (n_shingles x k) byte matrix via stride tricks, then fold the k
    byte columns into the running FNV state.
    """
    b = text.encode("utf-8", errors="replace")
    if len(b) < k:
        b = b + b"\x00" * (k - len(b))
    arr = np.frombuffer(b, dtype=np.uint8)
    n = len(arr) - k + 1
    windows = np.lib.stride_tricks.sliding_window_view(arr, k)  # (n, k)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = (h ^ windows[:, j].astype(np.uint64)) * _FNV_PRIME
    return np.unique(h)


def minhash_signature(shingles: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """m-vector signature: min over shingles of splitmix64(x ^ seed_i)."""
    if shingles.size == 0:
        return np.zeros(len(seeds), dtype=np.uint64)
    with np.errstate(over="ignore"):
        mat = splitmix64(shingles[None, :] ^ seeds[:, None])  # (m, n)
    return mat.min(axis=1)


def _band_seeds(rows: int, bands: int, seed: int) -> np.ndarray:
    base = np.arange(rows * bands, dtype=np.uint64) + np.uint64(
        (seed * 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF
    )
    return splitmix64(base)


def band_keys_py(
    text: str, rows: int, bands: int, shingle_k: int, seeds: np.ndarray
) -> list[str]:
    """LSH band keys of one text (pure function; the reference
    implementation the batch kernel is parity-tested against)."""
    sig = minhash_signature(shingle_hashes(text.lower(), shingle_k), seeds)
    sig_bands = sig.reshape(bands, rows)
    with np.errstate(over="ignore"):
        folded = sig_bands[:, 0]
        for r in range(1, rows):
            folded = splitmix64(folded ^ sig_bands[:, r])
    return [f"lsh:{i}:{folded[i]:016x}" for i in range(bands)]


def band_keys_batch(
    texts: list, rows: int, bands: int, shingle_k: int, seeds: np.ndarray
) -> tuple[np.ndarray, list[str]]:
    """LSH band keys for a WHOLE batch of texts in one vectorized pass
    — bit-identical to ``band_keys_py`` per row (parity-tested).

    Returns (row_idx, keys): ``row_idx[i]`` is the position in
    ``texts`` that produced ``keys[i]``; null/empty texts produce no
    output rows.

    Batch vectorization (the simhash_batch pattern):
    every row's padded utf-8 bytes are concatenated into ONE flat
    stream; the sliding-window FNV fold runs k contiguous-slice passes
    over the whole stream (windows crossing row boundaries are dropped
    by a boolean mask); per-row minhash minima come from
    ``np.minimum.reduceat`` over the flat shingle-hash vector, one
    in-place splitmix pass per seed over cache-sized chunks (~1 MiB —
    measured 1.8x faster than whole-stream passes, which are memory-
    bound). No per-row np.unique (a min is duplicate-insensitive) and
    no per-row Python in the hash path — only the final key-string
    formatting walks rows."""
    from el.hashing import _GOLD, _M1, _M2

    enc: list[bytes] = []
    keep: list[int] = []
    for i, t in enumerate(texts):
        if not t:
            continue
        b = t.lower().encode("utf-8", errors="replace")
        if len(b) < shingle_k:
            b = b + b"\x00" * (shingle_k - len(b))
        enc.append(b)
        keep.append(i)
    if not enc:
        return np.empty(0, dtype=np.int64), []
    n_docs = len(enc)
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n_docs)
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    n_sh = lens - shingle_k + 1  # >= 1 per doc (padded above)
    offs = np.concatenate(([0], np.cumsum(lens)))[:-1]

    # FNV over every window of the flat stream via k contiguous slices
    # (a sliding_window_view would astype STRIDED columns — 30x slower)
    fu = flat.astype(np.uint64)
    n_win = len(flat) - shingle_k + 1
    h = np.full(n_win, _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(shingle_k):
            h = (h ^ fu[j : j + n_win]) * _FNV_PRIME
    # drop the k-1 row-crossing windows after each doc (boolean mask —
    # doc-major order is preserved because flat IS doc-major)
    valid = np.ones(n_win, dtype=bool)
    bad = (offs + n_sh)[:, None] + np.arange(shingle_k - 1, dtype=np.int64)
    bad = bad.ravel()
    valid[bad[bad < n_win]] = False
    sh = h[valid]

    doc_starts = np.concatenate(([0], np.cumsum(n_sh)))[:-1]
    m = rows * bands
    sig = np.full((m, n_docs), np.iinfo(np.uint64).max, dtype=np.uint64)
    chunk = 1 << 17  # 1 MiB of uint64 — temporaries stay in L2
    buf = np.empty(min(chunk, len(sh)), dtype=np.uint64)
    tmp = np.empty_like(buf)
    c30, c27, c31 = np.uint64(30), np.uint64(27), np.uint64(31)
    with np.errstate(over="ignore"):
        pos = 0
        while pos < len(sh):
            end = min(pos + chunk, len(sh))
            lo = int(np.searchsorted(doc_starts, pos, side="right")) - 1
            hi = int(np.searchsorted(doc_starts, end, side="left"))
            starts = np.maximum(doc_starts[lo:hi], pos) - pos
            sub = sh[pos:end]
            b, t = buf[: len(sub)], tmp[: len(sub)]
            for s_i in range(m):
                # splitmix64(sub ^ seed) without temporaries
                np.bitwise_xor(sub, seeds[s_i], out=b)
                np.add(b, _GOLD, out=b)
                np.right_shift(b, c30, out=t)
                np.bitwise_xor(b, t, out=b)
                np.multiply(b, _M1, out=b)
                np.right_shift(b, c27, out=t)
                np.bitwise_xor(b, t, out=b)
                np.multiply(b, _M2, out=b)
                np.right_shift(b, c31, out=t)
                np.bitwise_xor(b, t, out=b)
                np.minimum(
                    sig[s_i, lo:hi],
                    np.minimum.reduceat(b, starts),
                    out=sig[s_i, lo:hi],
                )
            pos = end
    sig_bands = sig.reshape(bands, rows, n_docs)
    with np.errstate(over="ignore"):
        folded = sig_bands[:, 0, :].copy()
        for r in range(1, rows):
            folded = splitmix64(folded ^ sig_bands[:, r, :])

    row_idx = np.repeat(np.asarray(keep, dtype=np.int64), bands)
    by_doc = folded.T  # (n_docs, bands), row-major emission
    keys = [
        f"lsh:{i}:{by_doc[j, i]:016x}"
        for j in range(n_docs)
        for i in range(bands)
    ]
    return row_idx, keys


def lsh_band_keys(
    mentions: DataFrame,
    shingle_k: int = 3,
    rows: int = 4,
    bands: int = 16,
    seed: int = 7,
    text_col: str = "context",
) -> DataFrame:
    """mentions -> BLOCK_KEYS rows with strategy 'lsh_band'.

    ``bands`` rows out per mention; Jaccard(s) collision prob
    1-(1-s^rows)^bands (defaults: s50 ~= 0.5).
    """
    seeds = _band_seeds(rows, bands, seed)
    # NOTE: no scatter_small here (unlike dd2's standalone path): at
    # fixture scale the stage is output/Arrow-bound, not kernel-bound
    # (measured 1.5 s with or without the fan-out), so the extra
    # repartition shuffle of mention contexts buys nothing
    cols = mentions.select("mention_id", "url", text_col)

    def gen(batches):
        for pdf in batches:
            row_idx, keys = band_keys_batch(
                pdf[text_col].tolist(), rows, bands, shingle_k, seeds
            )
            yield pd.DataFrame(
                {
                    "mention_id": pd.Series(
                        pdf["mention_id"].to_numpy()[row_idx], dtype="int64"
                    ),
                    "url": pd.Series(
                        pdf["url"].to_numpy()[row_idx], dtype="object"
                    ),
                    "block_key": pd.Series(keys, dtype="object"),
                }
            )

    raw_schema = T.StructType(
        [
            T.StructField("mention_id", T.LongType(), False),
            T.StructField("url", T.StringType(), False),
            T.StructField("block_key", T.StringType(), False),
        ]
    )
    return cols.mapInPandas(gen, schema=raw_schema).select(
        "mention_id",
        "url",
        F.lit("lsh_band").alias("strategy"),
        "block_key",
        F.lit(0).alias("salt"),
    ).select([f.name for f in BLOCK_KEYS.fields])
