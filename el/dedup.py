"""Document deduplication for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup
(task brief: first-class ops).

Scale notes:
- exact dedup groups on sha2(text) — fixed-width shuffle keys instead
  of full documents; at 100 TB the shuffle moves 32-byte digests + ids,
  never text payloads.
- near-dup families are all block-then-verify: candidates come from an
  LSH/band/bucket equi-join (linear-ish), the exact similarity is only
  computed per candidate pair. No all-pairs product anywhere except
  the explicitly-bounded brute-force oracle paths.
- SimHash banding: a 64-bit simhash split into 4 x 16-bit bands finds
  every pair within Hamming distance 3 (pigeonhole: <=3 flipped bits
  cannot touch all 4 bands).
- hot-bucket skew: every candidate generator takes ``max_bucket``
  (default DEFAULT_MAX_BUCKET = production capping; pass None for
  unbounded exact fixture/oracle semantics — oracle registry entries
  do so explicitly), including the ``method="exact"`` all-pairs path,
  which caps block membership before its self-join (it silently
  ignored the knob until r5). At
  100 TB a degenerate bucket — millions of boilerplate pages sharing
  a band key, or a mega-cluster of identical embeddings — turns the
  bucket self-join quadratic on one reducer; ``max_bucket=K`` bounds
  each bucket's contribution to <=K(K-1)/2 candidates with a
  deterministic hash-order keep rule (the W1/cap_blocks discipline),
  and ``bucket_load_stats`` makes the truncation observable — never
  silent. Division of labor with AQE: ``max_bucket`` fixes the
  DATA-level quadratic (a capped bucket emits fewer pairs); AQE's
  skew-join splitting (on in el.conf) is the backstop that spreads a
  merely-warm bucket's pairs across reducers without dropping any.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.hashing import fnv1a_tokens, splitmix64
from el.io import scatter_small
from el.minhash import lsh_band_keys
from el.textops import tokens_of

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


# -- exact ---------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: (keep_id = min id, n_copies).
    Hash-groupBy on sha2(text) — partial aggregation map-side, only
    digests shuffle."""
    return (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.sha2(F.col(text_col), 256).alias("_key"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def chunk_exact_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Sub-document exact dedup: find token chunks repeated anywhere in
    the corpus (boilerplate detection — the chunk-level analog of
    ``exact_dedup``; cf. the repeated-substring pass in C4-style
    pipeline cleanup).

    Each document's tokens (shared spec) are cut into non-overlapping
    ``k``-token chunks; a chunk is a duplicate when its md5 occurs more
    than once corpus-wide. Returns one row per duplicated chunk:
    ``(chunk_md5, n_occ, n_docs, keeper_doc = min id)``.

    Scale: explode -> hash groupBy with map-side partial aggregation;
    the shuffle carries 32-hex-char digests + ids, never chunk text.
    Linear in corpus size, no self-join anywhere."""
    toks = tokens_of(F.col(text_col))
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("toks"))
        .where(F.size("toks") >= k)
    )
    chunk_hashes = F.transform(
        F.sequence(
            F.lit(0), (F.floor(F.size("toks") / F.lit(k)) - 1).cast("int")
        ),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), i * k + 1, k))
        ),
    )
    return (
        base.select(id_col, F.explode(chunk_hashes).alias("chunk_md5"))
        .groupBy("chunk_md5")
        .agg(
            F.count("*").cast("long").alias("n_occ"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.min(id_col).alias("keeper_doc"),
        )
        .where(F.col("n_occ") > 1)
    )


def strip_repeated_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    max_docs: int = 1,
) -> DataFrame:
    """C4-style boilerplate REMOVAL — the rewrite pass that
    ``chunk_exact_dupes`` (dd6) only detects: cut each document's
    tokens (shared spec) into non-overlapping ``k``-token chunks; a
    chunk whose md5 occurs in more than ``max_docs`` DISTINCT
    documents is corpus boilerplate and every occurrence of it is
    removed from every document. The cleaned text is the surviving
    chunks plus the (< k)-token tail, re-joined with single spaces
    (the tokenized contract — byte identity is over tokens, not the
    raw bytes, which normalization already rewrote).

    A chunk repeated only WITHIN one document is NOT boilerplate
    (``countDistinct`` ids, not occurrences) — intra-doc repetition
    is tx7 ``repetition_stats``' job.

    Returns ``(id, clean_text, n_chunks, n_removed)`` with one row
    per non-null-text input document (fully-stripped docs keep their
    row with the tail-only or empty string).

    Scale: one explode to (pos, digest) postings; the boilerplate
    digest set comes from a hash groupBy with map-side partial
    aggregation, so the detection stages shuffle only 32-hex digests
    + ids, never text. The rebuild joins the removed-position lists
    (one small int array per AFFECTED doc — docs with nothing removed
    have no row) back onto the base scan: AQE broadcasts that side
    while it is small; in the pervasive-boilerplate regime it
    co-partitions on id, which is the minimum any rewrite can do
    (removal info must meet the text somewhere). The rebuild itself
    is pure JVM higher-order array ops — no second text pass, no
    Python. Linear, no self-join."""
    toks = tokens_of(F.col(text_col))
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            F.floor(F.size(toks) / F.lit(k)).cast("long").alias("n_chunks"),
        )
    )
    chunk_md5s = F.when(
        F.col("n_chunks") > 0,
        F.transform(
            F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int")),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(F.col("_toks"), i * k + 1, k))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    posts = base.select(
        id_col, F.posexplode(chunk_md5s).alias("_pos", "chunk_md5")
    )
    bad = (
        posts.groupBy("chunk_md5")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") > max_docs)
        .select("chunk_md5")
    )
    removed = (
        posts.join(bad, "chunk_md5", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("_pos").alias("_rm"))
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    kept_idx = F.filter(
        F.when(
            F.col("n_chunks") > 0,
            F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int")),
        ).otherwise(F.array().cast("array<int>")),
        lambda i: ~F.array_contains(rm, i),
    )
    clean_toks = F.concat(
        F.flatten(
            F.transform(
                kept_idx, lambda i: F.slice(F.col("_toks"), i * k + 1, k)
            )
        ),
        F.slice(
            F.col("_toks"),
            (F.col("n_chunks") * k + 1).cast("int"),
            (F.size("_toks") - F.col("n_chunks").cast("int") * k),
        ),
    )
    return base.join(removed, id_col, "left").select(
        id_col,
        F.array_join(clean_toks, " ").alias("clean_text"),
        F.col("n_chunks"),
        F.size(rm).cast("long").alias("n_removed"),
    )


# -- hot-bucket skew cap -------------------------------------------------


def cap_bucket_members(
    keyed: DataFrame, key_col: str, id_col: str, cap: int
) -> DataFrame:
    """Keep <= ``cap`` members per bucket, chosen by a DETERMINISTIC
    pseudo-random order (xxhash64(key, id), id) — the same total-order
    tie-break discipline as el.blocking.cap_blocks (W1), so results
    are stable across partitionings and parallelism levels. Hash order
    (not plain id order) avoids systematically biasing the kept set
    toward low ids, which on synthetic corpora correlate with
    generation order."""
    w = Window.partitionBy(key_col).orderBy(
        F.xxhash64(F.col(key_col).cast("string"), F.col(id_col)),
        F.col(id_col),
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def bucket_load_stats(
    keyed: DataFrame, key_col: str, id_col: str, cap: int | None = None
) -> DataFrame:
    """Per-bucket (n_members, n_dropped) for the metrics table —
    recall loss from ``max_bucket`` capping is observable, never
    silent. With cap=None, n_dropped is 0 and the frame is a plain
    bucket-load histogram (skew diagnostics / cap tuning)."""
    counts = keyed.groupBy(key_col).agg(F.count(id_col).alias("n_members"))
    dropped = (
        F.greatest(F.col("n_members") - F.lit(cap), F.lit(0))
        if cap is not None
        else F.lit(0)
    )
    return counts.select(key_col, "n_members", dropped.alias("n_dropped"))


# -- n-gram Jaccard ------------------------------------------------------


def token_ngrams(col, n: int = 3):
    """Distinct token n-grams (space-joined) as a Spark expression.
    Guarded: fewer than n tokens -> empty array (F.sequence(1, 0)
    would otherwise produce a DESCENDING [1, 0])."""
    toks = tokens_of(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast(T.ArrayType(T.StringType()))
        )
    )


def _exact_jaccard_verify(
    cand: DataFrame, grams: DataFrame, threshold: float
) -> DataFrame:
    """Attach each side's gram array to the candidate pairs (two
    equi-joins on id — gram payload moves once per CANDIDATE, never
    per block member) and keep exact-Jaccard >= threshold. Jaccard is
    an exact ratio of integer cardinalities, bit-identical across
    engines."""
    inter = F.size(F.array_intersect("a_grams", "b_grams")).cast("double")
    union = F.size(F.array_union("a_grams", "b_grams")).cast("double")
    jac = inter / F.greatest(union, F.lit(1.0))
    # Exact size-ratio prune BEFORE the intersect/union work:
    # J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so J >= t requires
    # t*|B| <= |A| and t*|A| <= |B|. Boilerplate-driven band
    # collisions between different-length docs die on two int
    # comparisons instead of an array intersection.
    na = F.size("a_grams").cast("double")
    nb = F.size("b_grams").cast("double")
    return (
        cand.join(
            grams.select(F.col("_id").alias("a_id"), F.col("_grams").alias("a_grams")),
            on="a_id",
        )
        .join(
            grams.select(F.col("_id").alias("b_id"), F.col("_grams").alias("b_grams")),
            on="b_id",
        )
        .where((na >= threshold * nb) & (nb >= threshold * na))
        .select("a_id", "b_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# Production default for hot-bucket caps: every
# dd-family candidate generator caps bucket membership at this many
# members unless the caller overrides it. K=1000 bounds any one
# bucket's self-join contribution to ~K^2/2 pairs on one reducer while
# truncating nothing at fixture/bench scales; ORACLE registry entries
# pass max_bucket=None explicitly, because their hash-exact truth
# comparison must see the uncapped candidate set. The default makes
# candidate generation LOSSY for buckets past the cap (a deterministic
# subset is kept) — that is the intended 100 TB trade; callers who
# need drop accounting run bucket_load_stats over the same keyed
# table (opt-in diagnostic, costs one aggregate), or pass None for
# lossless semantics.
DEFAULT_MAX_BUCKET = 1000


def _same_block_filter(
    cand: DataFrame, base: DataFrame, id_col: str, block_col: str
) -> DataFrame:
    """Restrict candidate (a_id, b_id) pairs to those whose rows share
    the same ``block_col`` value. Block values are attached via two
    equi-joins ON ID (the candidate set is already small), never by
    joining on the block column itself — the no-block-join plan
    discipline of the scale paths is preserved.

    Null semantics: a NULL block value matches nothing —
    the plain ``==`` below drops null-block rows exactly as the exact
    path's equi-join on ``_blk`` does, so every method's block_col
    behaves identically."""
    blk = base.select(F.col(id_col).alias("_bid"), F.col(block_col).alias("_bv"))
    return (
        cand.join(
            blk.select(F.col("_bid").alias("a_id"), F.col("_bv").alias("_a_bv")),
            on="a_id",
        )
        .join(
            blk.select(F.col("_bid").alias("b_id"), F.col("_bv").alias("_b_bv")),
            on="b_id",
        )
        .where(F.col("_a_bv") == F.col("_b_bv"))
        .select("a_id", "b_id")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    method: str = "minhash",
    mh_shingle_k: int = 5,
    mh_rows: int = 4,
    mh_bands: int = 16,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by exact token n-gram Jaccard >= threshold.
    Emits (a_id, b_id, jaccard).

    ``block_col`` (default None = whole corpus) is HONORED by every
    method: when set, only same-block pairs are emitted, and rows with
    a NULL block value pair with nothing (conventional equi-join
    semantics, identical across methods). In the minhash
    path it is applied as a post-filter on candidates (id joins, no
    block-column join); in the exact path it bounds the quadratic
    self-join. An explicit block_col is never silently ignored.

    method="minhash" (default, the 100 TB path): candidates come from
    MinHash band collisions over char shingles — linear in corpus
    size (shingle -> band -> bucket equi-join), never quadratic in a
    block. Token-Jaccard-0.5 near-dups share long substrings, so
    their char-5-shingle similarity sits on the steep part of the
    rows=4/bands=16 S-curve (collision prob 1-(1-s^4)^16) and recall
    is ~1 with tiny candidate fan-out (measured on the fixtures:
    recall 1.0, ~2.3k candidates vs ~85k at rows=2/bands=32); the
    exact-Jaccard verify then removes every false candidate, making
    precision exact. Equivalence to the exact path on the test corpus
    is asserted in tests/test_dedup.py, not assumed.

    method="exact": r1 semantics — all pairs within ``block_col``
    (quadratic within a block; retained as the small-scale oracle
    path and for corpora with a genuinely selective block key).
    ``max_bucket`` is honored here too: block membership is capped to
    a deterministic subset before the self-join, bounding the quadratic blowup
    exactly as in the minhash path. With block_col=None the whole
    corpus is ONE bucket, so the default cap keeps only
    DEFAULT_MAX_BUCKET docs — pass max_bucket=None for the lossless
    all-pairs baseline (every oracle entry does)."""
    base = df.where(F.col(text_col).isNotNull())
    # gram arrays are computed per doc ONCE; scatter so the (JVM but
    # single-split) gram build and the verify joins use every core
    g = scatter_small(base).select(
        F.col(id_col).alias("_id"),
        token_ngrams(F.col(text_col), n).alias("_grams"),
    )
    if method == "minhash":
        cand = minhash_lsh_pairs(
            df,
            text_col=text_col,
            id_col=id_col,
            shingle_k=mh_shingle_k,
            rows=mh_rows,
            bands=mh_bands,
            max_bucket=max_bucket,
        )
        if block_col is not None:
            cand = _same_block_filter(cand, base, id_col, block_col)
        return _exact_jaccard_verify(cand, g, threshold)
    blk = (
        F.col(block_col) if block_col is not None else F.lit(1)
    ).alias("_blk")
    ids = base.select(F.col(id_col).alias("_id"), blk)
    if max_bucket is not None:
        ids = cap_bucket_members(ids, "_blk", "_id", max_bucket)
    a = ids.select(F.col("_id").alias("a_id"), "_blk")
    b = ids.select(F.col("_id").alias("b_id"), "_blk")
    cand = (
        a.join(b, on="_blk")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    return _exact_jaccard_verify(cand, g, threshold)


# -- MinHash + LSH -------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    rows: int = 4,
    bands: int = 16,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash band collision (reuses the
    el.minhash kernel): shingle -> minhash -> band -> bucket equi-join.
    Linear in corpus size; collision prob 1-(1-s^rows)^bands.

    ``max_bucket`` (production: set it, e.g. 1000) bounds each band
    bucket at K members before the self-join — see module docstring;
    pairs within a capped bucket are a deterministic subset."""
    keyed = lsh_band_keys(
        scatter_small(
            df.select(
                F.col(id_col).alias("mention_id"),
                F.col(id_col).cast("string").alias("url"),
                F.col(text_col).alias("context"),
            )
        ),
        shingle_k=shingle_k,
        rows=rows,
        bands=bands,
    )
    if max_bucket is not None:
        keyed = cap_bucket_members(keyed, "block_key", "mention_id", max_bucket)
    a = keyed.select(F.col("mention_id").alias("a_id"), "block_key")
    b = keyed.select(F.col("mention_id").alias("b_id"), "block_key")
    return (
        a.join(b, on="block_key")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


# -- SimHash -------------------------------------------------------------


_MASK64 = 0xFFFFFFFFFFFFFFFF


def token_hashes(tokens: list[str]) -> np.ndarray:
    """splitmix64(FNV-1a-64(token)) per token, fully vectorized
    (el.hashing.fnv1a_tokens — max_len column passes over the whole
    batch, no per-char Python loop). Bit-identical to the r1 scalar
    loop; parity asserted in tests/test_dedup.py."""
    return splitmix64(fnv1a_tokens(tokens, bits=64))


def simhash_py(tokens: list[str]) -> int:
    """64-bit SimHash (Charikar 2002) of a token multiset: sign of the
    per-bit sum of token-hash bit vectors. Pure function for tests."""
    if not tokens:
        return 0
    hs = token_hashes(tokens)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
        np.int64
    )
    sums = (2 * bits - 1).sum(axis=0)
    word = int(((sums > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
    return int(np.uint64(word & _MASK64).astype(np.int64))


def simhash_batch(texts: list) -> np.ndarray:
    """SimHash of every text in one shot (int64 array).

    Batch vectorization: tokenize each doc (regex, the one per-row
    pass), hash each DISTINCT token in the batch once (np.unique +
    vectorized FNV — Zipfian vocab makes the unique set small), then
    accumulate the per-doc ±1 bit sums with 64 bincount passes over
    the flat token stream — memory stays O(n_tokens), never
    O(n_tokens x 64)."""
    import re

    tok_re = re.compile(r"[a-z0-9]+")
    doc_toks = [
        tok_re.findall(t.lower()) if isinstance(t, str) else [] for t in texts
    ]
    n_docs = len(doc_toks)
    counts = np.fromiter((len(ts) for ts in doc_toks), dtype=np.int64, count=n_docs)
    flat = [t for ts in doc_toks for t in ts]
    if not flat:
        return np.zeros(n_docs, dtype=np.int64)
    uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
    hs = token_hashes(list(uniq))[inv]
    doc_idx = np.repeat(np.arange(n_docs), counts)
    sums = np.empty((n_docs, 64), dtype=np.int64)
    one = np.uint64(1)
    for j in range(64):
        bit = ((hs >> np.uint64(j)) & one).astype(np.float64)
        sums[:, j] = np.bincount(
            doc_idx, weights=2.0 * bit - 1.0, minlength=n_docs
        ).astype(np.int64)
    words = ((sums > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1
    )
    return words.view(np.int64)


def simhash_col(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) via a vectorized mapInPandas kernel."""
    cols = scatter_small(df.select(id_col, text_col))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "simhash": simhash_batch(pdf[text_col].tolist()),
                }
            )

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )
    return cols.mapInPandas(gen, schema=schema)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, found by
    4x16-bit band collision (complete for max_hamming <= 3) and
    verified with a JVM-side popcount.

    ``max_bucket`` caps band-bucket membership (module docstring);
    with it set the Hamming<=3 completeness guarantee holds only
    within the kept members of each bucket."""
    return hamming_band_pairs(
        simhash_col(df, text_col, id_col),
        hash_col="simhash",
        id_col=id_col,
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


def hamming_band_pairs(
    hashed: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Pairs with Hamming distance <= ``max_hamming`` between 64-bit
    sketches in ``hash_col`` — the band-then-verify core shared by
    text SimHash (dd3) and image dHash (mm6): the word is split into
    4 x 16-bit bands, pairs colliding on any band are candidates
    (pigeonhole: <=3 differing bits leave at least one band intact,
    so the candidate set is COMPLETE for max_hamming <= 3), and the
    exact distance is one JVM popcount of the XOR — no Python in the
    join. Output: (a_id, b_id, hamming).

    Scale: candidates are an equi-join on band_key, so the shuffle
    carries (id, 8-byte sketch) per band — never the underlying
    text/pixels; ``max_bucket`` caps hot buckets (uniform-ish sketch
    bands make true hot buckets rare — a hot band IS a dup cluster)."""
    bands = hashed.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.shiftrightunsigned(hash_col, 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band_key"),
    )
    if max_bucket is not None:
        bands = cap_bucket_members(bands, "band_key", id_col, max_bucket)
    a = bands.select(
        F.col(id_col).alias("a_id"), F.col(hash_col).alias("a_sh"), "band_key"
    )
    b = bands.select(
        F.col(id_col).alias("b_id"), F.col(hash_col).alias("b_sh"), "band_key"
    )
    cand = (
        a.join(b, on="band_key")
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sh", "b_sh")
        .distinct()
    )
    ham = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    return cand.select(
        "a_id", "b_id", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# -- embedding cosine near-dup ------------------------------------------


def cosine_expr(a, b):
    """Exact cosine between two array<float|double> columns, computed
    JVM-side (zip_with dot + aggregate norms); doubles throughout."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda a_, x: a_ + x)
    )
    return dot / F.greatest(na * nb, F.lit(1e-12))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    method: str = "lsh",
    n_planes: int = 8,
    n_tables: int = 16,
    seed: int = 11,
    dim: int = 64,
    probe_bits: int = 0,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup vector pairs with exact cosine >= threshold; ids only
    — float values stay out of the comparison surface.

    ``max_bucket`` caps each LSH bucket's membership on BOTH join
    sides (module docstring: a mega-cluster of near-identical
    embeddings makes a bucket self-join quadratic at scale); each
    bucket then contributes <= K^2 candidates, and the kept subset is
    deterministic.

    ``block_col`` (default None = whole corpus) is HONORED by every
    method: when set, only same-block pairs are emitted — in the lsh
    path as a post-filter on candidates (id joins, never a
    block-column join), in the exact path as the self-join key.

    method="lsh" (default, the 100 TB path): candidates come from
    random-hyperplane LSH buckets (el.similarity.lsh_buckets — one
    numpy matmul per Arrow batch, bucket equi-join, linear in corpus
    size), then EXACT JVM-side cosine verifies each candidate, so
    precision is exact and only recall depends on the banding. At
    threshold 0.95 the angle is <= 18°, so two near-dups agree on a
    random hyperplane with p ~ 0.90; missing all 16 tables of 8
    planes happens with prob (1-p^8)^16 ~ 1e-4. Equality with the
    exact path on the test corpus is asserted in tests, not assumed.
    Size ``n_planes`` to the corpus with
    :func:`el.similarity.suggest_n_planes` (cap-recall policy,
    BASELINE.md r5): under-bucketed LSH makes ``max_bucket`` do the
    bucketing's job and recall pays (measured 0.849 at 6 planes vs
    0.981 right-sized at 96k docs).

    method="exact": r1 semantics — all pairs within ``block_col``
    (or crossJoin when None). Quadratic within a block; retained as
    the small-scale oracle/baseline path only. ``max_bucket`` is
    honored here too: block membership (the whole corpus
    when block_col=None) is capped to a deterministic subset before
    the self-join — pass None for the lossless all-pairs baseline."""
    if method == "lsh":
        from el.similarity import lsh_buckets

        buckets = lsh_buckets(
            df, n_planes, n_tables, seed, vec_col, id_col, dim
        )
        # multi-probe (probe_bits=1): only ONE side of the self-join is
        # probed — any pair within Hamming distance 1 of a table code
        # collides, so the same recall needs far fewer tables while the
        # plain side's row count stays n_tables per vector
        b_side = (
            lsh_buckets(
                df, n_planes, n_tables, seed, vec_col, id_col, dim,
                probe_bits=probe_bits,
            )
            if probe_bits
            else buckets
        )
        if max_bucket is not None:
            buckets = cap_bucket_members(buckets, "bucket", id_col, max_bucket)
            b_side = (
                cap_bucket_members(b_side, "bucket", id_col, max_bucket)
                if probe_bits
                else buckets
            )
        cand = (
            buckets.select(F.col(id_col).alias("a_id"), "bucket")
            .join(
                b_side.select(F.col(id_col).alias("b_id"), "bucket"),
                on="bucket",
            )
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        if block_col is not None:
            cand = _same_block_filter(cand, df, id_col, block_col)
        vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        return (
            cand.join(
                vecs.select(F.col("_id").alias("a_id"), F.col("_v").alias("a_v")),
                on="a_id",
            )
            .join(
                vecs.select(F.col("_id").alias("b_id"), F.col("_v").alias("b_v")),
                on="b_id",
            )
            .where(cosine_expr(F.col("a_v"), F.col("b_v")) >= threshold)
            .select("a_id", "b_id")
        )
    sel = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if block_col:
        sel.append(F.col(block_col).alias("_blk"))
    g = df.select(*sel)
    if max_bucket is not None:
        cap_key = "_blk" if block_col else "_one"
        if not block_col:
            g = g.withColumn("_one", F.lit(1))
        g = cap_bucket_members(g, cap_key, "_id", max_bucket)
        if not block_col:
            g = g.drop("_one")
    a = g.select(
        *[F.col(c).alias(f"a{c}") for c in ("_id", "_v")],
        *([F.col("_blk")] if block_col else []),
    )
    b = g.select(
        *[F.col(c).alias(f"b{c}") for c in ("_id", "_v")],
        *([F.col("_blk")] if block_col else []),
    )
    joined = a.join(b, on="_blk") if block_col else a.crossJoin(b)
    return (
        joined.where(F.col("a_id") < F.col("b_id"))
        .where(cosine_expr(F.col("a_v"), F.col("b_v")) >= threshold)
        .select("a_id", "b_id")
    )


# -- near-dup clustering (pairs -> equivalence classes) -------------------


def neardup_doc_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
    method: str = "minhash",
    **jaccard_kwargs,
) -> DataFrame:
    """Corpus dedup end-to-end: near-dup PAIRS are not yet dedupable —
    near-duplication is transitive in practice (A~B, B~C chains), so
    keep/drop decisions need the equivalence CLASS. Composes
    ``ngram_jaccard_pairs`` with the iterative connected-components
    operator (el/clustering.py) and returns ``(id, cluster_id)`` for
    every document that has at least one near-dup, with
    ``cluster_id = min member id`` (the deterministic keeper under
    keep-lowest survivorship; docs absent from the output are unique
    and survive trivially).

    Scale shape: candidates from LSH banding (linear), exact verify
    per candidate, then O(log N) star-contraction rounds on an edge
    set that is near-dup-sparse — each stage is the 100 TB form, no
    quadratic anywhere (``method="exact"`` remains the small-scale
    oracle baseline)."""
    from el.clustering import connected_components

    pairs = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        block_col=block_col,
        n=n,
        threshold=threshold,
        method=method,
        **jaccard_kwargs,
    )
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    return connected_components(edges).select(
        F.col("mention_id").alias(id_col), "cluster_id"
    )


def dedup_survivors(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
) -> DataFrame:
    """Survivorship policy for corpus dedup: one keeper per near-dup
    cluster — highest ``quality_col``, ties broken by lowest id (total
    order, so the choice is deterministic across partitionings).
    ``clusters`` is ``neardup_doc_clusters`` output; ``quality`` maps
    id -> score (e.g. el.textops.quality_score). Members with no
    quality row still count (left join) and compete last
    (nulls-last), so a coverage gap can't silently shrink a cluster.
    Returns ``(cluster_id, survivor_id, n_members, best_quality)``.

    Scale: one equi-join on id + one per-cluster rank window with the
    ``_rn == 1`` filter DIRECTLY above it, which compiles to
    WindowGroupLimit (rank pushdown, plan-audited in test_dedup.py)
    — no cluster's full member list is ever rank-materialized.
    ``n_members`` comes from a separate partial-aggregated groupBy
    (a count(*) analytic window between the filter and the rank
    window would block the pushdown)."""
    j = clusters.join(
        quality.select(F.col(id_col), F.col(quality_col)),
        on=id_col,
        how="left",
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
    )
    keeper = (
        j.select(
            "cluster_id",
            F.col(id_col),
            F.col(quality_col),
            F.row_number().over(w).alias("_rn"),
        )
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("survivor_id"),
            F.col(quality_col).alias("best_quality"),
        )
    )
    return keeper.join(sizes, on="cluster_id").select(
        "cluster_id", "survivor_id", "n_members", "best_quality"
    )


def shared_span_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection via winnowing
    fingerprints (Schleimer et al., SIGMOD 2003).

    Doc-level near-dup (dd2-dd5) misses *partial* duplication —
    syndicated paragraphs, quoted blocks, one document contained in
    another. Winnowing guarantees any shared run of at least
    k + window - 1 characters leaves >= 1 common fingerprint, so
    pairs sharing >= ``min_shared`` fingerprints are span-level
    duplicate candidates with a size-independent local guarantee.

    Plan (linear, the dd2 discipline): per-doc fingerprint kernel ->
    explode to (fp, id) postings -> optional deterministic hot-bucket
    cap (boilerplate fingerprints otherwise go quadratic on one
    reducer) -> fp equi-join with id_a < id_b -> pair-count groupBy.
    Returns (id_a, id_b, n_shared).

    Cap semantics: the cap removes POSTINGS, so beyond
    dropping pairs that only met inside a capped bucket, it also
    DEFLATES n_shared for surviving pairs whose other fingerprints sat
    in capped buckets — a pair can fall below ``min_shared`` even
    though both ids survive elsewhere. The cap therefore effectively
    RAISES the min_shared bar in boilerplate-heavy corpora, biasing
    toward precision (boilerplate fingerprints are exactly the ones
    capped). Counting shared fps before capping would require the
    uncapped quadratic join the cap exists to avoid; callers needing
    exact n_shared at small scale pass max_bucket=None."""
    from el.textops import winnow_fingerprints

    fps = winnow_fingerprints(
        docs, text_col=text_col, id_col=id_col, k=k, window=window
    )
    posts = fps.select(F.col(id_col), F.explode("fingerprints").alias("fp"))
    if max_bucket is not None:
        posts = cap_bucket_members(posts, "fp", id_col, max_bucket)
    a = posts.select("fp", F.col(id_col).alias("id_a"))
    b = posts.select("fp", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
    max_bucket: int | None = None,
    positional: bool = True,
    _candidates_only: bool = False,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    AllPairs / PPJoin candidate scheme — Bayardo, Ma & Srikant,
    "Scaling Up All Pairs Similarity Search", WWW 2007; Xiao et al.,
    PPJoin, WWW 2008): every pair with token-set Jaccard >=
    ``threshold``, no LSH and no probabilistic recall — the exact
    counterpart to dd4b's MinHash candidate path, for when a dedup
    decision must be defensible pair-by-pair.

    Mechanics (all JVM expressions, no UDFs): per-doc DISTINCT token
    sets; a global document-frequency table orders each doc's tokens
    rarest-first (sort_array over (df, token) structs — any shared
    total order preserves completeness, rarest-first just minimizes
    posting sizes); each doc indexes only its PREFIX of length
    |t| - ceil(threshold*|t|) + 1 (a qualifying pair must share a
    prefix token — the pigeonhole at the heart of AllPairs);
    candidates come from the prefix-token equi-join with the
    size-ratio filter min >= threshold*max, then one exact
    array_intersect verify decides membership.

    ``positional=True`` (default) adds PPJoin's positional filter:
    a match on the token at (1-based) prefix position p can witness
    at most ``1 + min(|a| - pa, |b| - pb)`` common tokens, and a
    qualifying pair needs overlap O with O*(1+t) >= t*(|a|+|b|)
    (algebra of J >= t); a pair survives if ANY of its shared prefix
    tokens passes the bound. Completeness: for a qualifying pair the
    FIRST shared token in the global order has no shared tokens
    before it, so its bound >= the true overlap >= the requirement —
    that row always passes. The float comparison keeps a 1e-6 slack
    (strictly conservative: borderline candidates are KEPT and
    settled by the exact verify, never dropped to rounding).

    Returns ``(a_id, b_id, n_inter, n_union, jaccard)`` with
    a_id < b_id; jaccard is the exact BIGINT ratio n_inter/n_union
    as an IEEE double (engine-independent).

    Scale shape: df-counts and prefixes are linear passes; the only
    quadratic risk is a hot prefix token, and rarest-first ordering
    makes prefix tokens the RAREST in the corpus — the opposite of
    the stop-word skew that motivates capping elsewhere.
    ``max_bucket=None`` (the default, unlike the LSH families)
    preserves the exactness contract; passing a cap bounds hot
    prefix-token postings with the deterministic keep rule and makes
    the join a bounded approximation — never silently (cap only the
    guardrail case, audit with bucket_load_stats on the prefix
    postings)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = (
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(tokens_col)).alias("_tk"),
        )
        .where(F.size("_tk") > 0)
        .withColumn("_sz", F.size("_tk").cast("long"))
    )
    posts = t.select("_id", "_sz", F.explode("_tk").alias("_t"))
    dfreq = posts.groupBy("_t").agg(F.count("*").cast("long").alias("_df"))
    ordered = (
        posts.join(dfreq, on="_t")
        .groupBy("_id", "_sz")
        .agg(
            F.sort_array(F.collect_list(F.struct("_df", "_t"))).alias(
                "_ord"
            )
        )
    )
    klen = (
        F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    ).cast("int")
    pref = ordered.select(
        "_id",
        "_sz",
        F.posexplode(F.slice("_ord", F.lit(1), klen)).alias("_i", "_p"),
    ).select(
        "_id", "_sz", (F.col("_i") + 1).alias("_pos"),
        F.col("_p._t").alias("_t"),
    )
    if max_bucket is not None:
        pref = cap_bucket_members(pref, "_t", "_id", max_bucket)
    a = pref.select(
        F.col("_id").alias("a_id"), F.col("_sz").alias("_sza"),
        F.col("_pos").alias("_pa"), "_t",
    )
    b = pref.select(
        F.col("_id").alias("b_id"), F.col("_sz").alias("_szb"),
        F.col("_pos").alias("_pb"), "_t",
    )
    cond = (F.col("a_id") < F.col("b_id")) & (
        F.least("_sza", "_szb")
        >= F.lit(threshold) * F.greatest("_sza", "_szb")
    )
    if positional:
        ubound = F.lit(1) + F.least(
            F.col("_sza") - F.col("_pa"), F.col("_szb") - F.col("_pb")
        )
        cond = cond & (
            ubound * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("_sza") + F.col("_szb"))
            - F.lit(1e-6)
        )
    cand = (
        a.join(b, on="_t").where(cond).select("a_id", "b_id").distinct()
    )
    if _candidates_only:  # test hook: observe the pre-verify pair set
        return cand
    sets = t.select("_id", "_tk", "_sz")
    verified = (
        cand.join(
            sets.select(
                F.col("_id").alias("a_id"),
                F.col("_tk").alias("_tka"),
                F.col("_sz").alias("_sza"),
            ),
            on="a_id",
        )
        .join(
            sets.select(
                F.col("_id").alias("b_id"),
                F.col("_tk").alias("_tkb"),
                F.col("_sz").alias("_szb"),
            ),
            on="b_id",
        )
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("_tka", "_tkb")).cast("long"),
        )
        .withColumn(
            "n_union", (F.col("_sza") + F.col("_szb") - F.col("n_inter"))
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )
    return verified.select("a_id", "b_id", "n_inter", "n_union", "jaccard")
