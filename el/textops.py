"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, and document
fingerprinting (task brief: first-class ops alongside SURVEY.md §2).

Everything here is built from pyspark.sql builtin functions — the
whole module stays inside whole-stage codegen (no Python in the hot
path). The one genuinely non-relational op (winnowing fingerprints,
Schleimer et al., SIGMOD 2003) is a vectorized mapInPandas kernel.

Shared tokenization spec (mirrored exactly by the DuckDB oracles in
el.queries): lower -> split on '[^a-z0-9]+' -> drop empties.
"""

from __future__ import annotations

import functools
import operator
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.catalog import artifact_meta, commit_artifact, load_or_fit
from el.hashing import splitmix64

# distinct-hit stopword lists (order matters: argmax tie-break is the
# list order en > fr > es > de)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "was", "for", "with", "that"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans"],
    "es": ["el", "los", "las", "y", "de", "que", "en", "un", "una", "por"],
    "de": ["der", "die", "das", "und", "von", "zu", "ist", "mit", "den", "ein"],
}


def tokens_of(col: Column) -> Column:
    """The shared tokenization spec as a Spark expression."""
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda t: F.length(t) > 0
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """+ ``pred_lang``: argmax of distinct-stopword-hit counts, ties
    broken by the fixed language order; no hits at all -> 'und'."""
    toks = tokens_of(F.col(text_col))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    s = {k: F.coalesce(v, F.lit(0)) for k, v in scores.items()}
    pred = (
        F.when(
            (s["en"] >= s["fr"]) & (s["en"] >= s["es"]) & (s["en"] >= s["de"]),
            F.lit("en"),
        )
        .when((s["fr"] >= s["es"]) & (s["fr"] >= s["de"]), F.lit("fr"))
        .when(s["es"] >= s["de"], F.lit("es"))
        .otherwise(F.lit("de"))
    )
    total = sum(s.values())
    return df.withColumn(
        "pred_lang", F.when(total <= 0, F.lit("und")).otherwise(pred)
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """+ length/stopword/alnum features and a [0,1] quality score.

    All-double arithmetic over exact integer inputs — bit-identical
    across engines, so the DuckDB oracle compares raw values."""
    text = F.col(text_col)
    toks = tokens_of(text)
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(toks).cast("double")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(toks, en_stop)).cast("double")
    alnum_chars = F.length(
        F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    ).cast("double")
    token_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("double")

    stop_ratio = stop_hits / F.lit(10.0)
    alnum_ratio = alnum_chars / F.greatest(n_chars, F.lit(1.0))
    avg_token_len = token_chars / F.greatest(n_tokens, F.lit(1.0))
    len_score = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    wordlen_score = F.lit(1.0) - F.least(
        F.abs(avg_token_len - F.lit(5.0)) / F.lit(5.0), F.lit(1.0)
    )
    quality = (
        F.lit(0.3) * len_score
        + F.lit(0.3) * alnum_ratio
        + F.lit(0.2) * stop_ratio
        + F.lit(0.2) * wordlen_score
    )
    return df.select(
        "*",
        n_tokens.cast("long").alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        alnum_ratio.alias("alnum_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


# BPE-ish pre-token pattern: letter runs, single digits, or single
# non-alnum-non-space marks (the GPT-2 pre-tokenizer shape, simplified
# to a class-only regex so Java and RE2 agree)
BPE_ISH = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """+ whitespace token count and BPE-ish sub-token count."""
    text = F.col(text_col)
    ws = F.size(F.split(F.trim(text), "\\s+")).cast("long")
    bpe = F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH), 0)).cast(
        "long"
    )
    return df.select(
        "*",
        F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(ws).alias(
            "ws_tokens"
        ),
        bpe.alias("bpe_tokens"),
    )


def content_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """+ ``fp_md5``: md5 of whitespace/case-normalized text — the
    exact-dedup key that survives formatting differences."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    return df.withColumn("fp_md5", F.md5(norm))


# -- URL canonicalization ------------------------------------------------

# scheme://authority prefix (scheme per RFC 3986: ALPHA *(ALPHA/DIGIT/+/-/.))
_SCHEME_HOST = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_SCHEME_HOST_NOCAP = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+"
# query parameters dropped by canonicalization (tracking noise that
# fragments otherwise-identical pages into distinct URL keys)
TRACKING_PARAM_RE = "^(utm_[^=]*|ref|fbclid|gclid)="


def canonicalize_url(col: Column) -> Column:
    """Canonical form of an absolute URL, for URL-keyed dedup and
    host-level rollups over a web crawl:

    - fragment dropped;
    - host lowercased, leading ``www.`` and default ports (80/443)
      stripped (path/query case is PRESERVED — it is significant);
    - tracking query params (``utm_*``, ``ref``, ``fbclid``,
      ``gclid``) removed, remaining params kept in order;
    - trailing slashes stripped from the path.

    Inputs without a ``scheme://`` prefix are returned lower/trimmed
    as-is (relative URLs have no canonical authority). Outputs are
    DEDUP KEYS, not URLs — they carry no scheme, so re-canonicalizing
    an output takes the no-scheme branch; apply once to raw urls.
    Pure builtin composition — whole-stage codegen, no Python. At
    crawl scale this runs in the scan stage; the canonical string
    (not the raw URL) is the dedup/groupBy key, so the shuffle
    carries one normalized key per page. Contract pinned by the
    variant-invariance test (tests/test_textops.py): every noise
    variant of a page maps to one key, distinct pages stay distinct."""
    u = F.regexp_replace(col, "#.*", "")
    host = F.lower(F.regexp_extract(u, _SCHEME_HOST, 1))
    host = F.regexp_replace(
        F.regexp_replace(host, "^www\\.", ""), ":(80|443)$", ""
    )
    rest = F.regexp_replace(u, _SCHEME_HOST_NOCAP, "")
    path = F.regexp_replace(F.regexp_replace(rest, "\\?.*", ""), "/+$", "")
    qs = F.when(
        rest.contains("?"), F.regexp_replace(rest, "^[^?]*\\?", "")
    ).otherwise(F.lit(""))
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(TRACKING_PARAM_RE),
    )
    canon = F.concat(
        host,
        path,
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
        ).otherwise(F.lit("")),
    )
    return F.when(host == "", F.lower(F.trim(col))).otherwise(canon)


# -- repetition / quality signals (Gopher-style) -------------------------


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals (the Gopher/C4 family of
    quality-filter rules, restated over the shared token spec):

    - ``n_words``: token count;
    - ``distinct_word_ratio``: distinct tokens / tokens (low -> spam);
    - ``top_word_frac``: most frequent token's share (high -> spam);
    - ``dup_2gram_frac``: 1 - distinct 2-grams / 2-grams.

    Documents with zero tokens are excluded (no signal). Shape is
    explode -> partial-agg groupBy: both aggregations are map-side
    combinable, so at 100 TB the shuffle carries (doc, token-hash)
    partial counts, never text. Raw double divisions over exact
    integers -> bit-identical vs the DuckDB oracle."""
    toks = tokens_of(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("toks"))
    wc = (
        base.select(id_col, F.explode("toks").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("c"))
    )
    per_doc = wc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("max_wc"),
    )
    grams = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    gd = (
        base.where(F.size("toks") >= 2)
        .select(id_col, F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.count("*").cast("long").alias("n_distinct_grams"),
        )
    )
    return per_doc.join(gd, on=id_col, how="left").select(
        id_col,
        "n_words",
        (F.col("n_distinct").cast("double") / F.col("n_words").cast("double"))
        .alias("distinct_word_ratio"),
        (F.col("max_wc").cast("double") / F.col("n_words").cast("double"))
        .alias("top_word_frac"),
        F.when(F.col("n_grams").isNull(), F.lit(0.0))
        .otherwise(
            F.lit(1.0)
            - F.col("n_distinct_grams").cast("double")
            / F.col("n_grams").cast("double")
        )
        .alias("dup_2gram_frac"),
    )


# Gopher rule-filter defaults (Rae et al. 2021, "Scaling Language
# Models: ...Gopher", Table A1), with the word-count floor lowered to
# the fixture scale's doc lengths; callers tune per corpus.
GOPHER_DEFAULTS = dict(
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    max_symbol_word_ratio=0.1,
    max_bullet_line_frac=0.9,
    max_ellipsis_line_frac=0.3,
    min_alpha_word_frac=0.8,
    min_stop_hits=2,
)


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **thresholds,
) -> DataFrame:
    """Per-document Gopher-style rule signals plus the combined
    ``gopher_pass`` verdict — the line/char-shape half of the rule
    family (``repetition_stats`` carries the word/ngram-repetition
    half). Signals:

    - ``n_words`` / ``mean_word_len`` over the shared token spec;
    - ``alpha_word_frac``: tokens containing a letter / tokens
      (pure-digit runs drag it down);
    - ``symbol_word_ratio``: ('#' chars + ASCII '...' runs) / tokens;
    - ``n_lines`` / ``bullet_line_frac`` (lines starting '- '/'* ') /
      ``ellipsis_line_frac`` (lines ending '...');
    - ``n_stop_hits``: total (non-distinct) English stopword tokens;
    - ``gopher_pass``: AND of the threshold rules (GOPHER_DEFAULTS,
      overridable per keyword).

    Zero-token documents get NULL ratios and ``gopher_pass`` false.

    Scale: a pure projection — every signal is a builtin-expression
    fold over the tokens/lines arrays, whole-stage codegen, zero
    shuffle, no Python. Ratios are single IEEE divisions of exact
    integer counts, so the DuckDB oracle (tx11) compares raw doubles
    hash-exactly."""
    th = {**GOPHER_DEFAULTS, **thresholds}
    unknown = set(th) - set(GOPHER_DEFAULTS)
    if unknown:
        raise ValueError(f"unknown gopher thresholds: {sorted(unknown)}")
    text = F.col(text_col)
    toks = tokens_of(text)
    n_words = F.size(toks).cast("long")
    nw_d = n_words.cast("double")
    token_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda a, x: a + x,
    ).cast("long")
    alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("long")
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(en_stop, t))
    ).cast("long")
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_symbols = (n_hash + n_ellipsis).cast("long")
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.startswith("- ") | l.startswith("* "))
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.endswith("..."))
    ).cast("long")

    has_words = n_words > 0
    ratio = lambda num: F.when(has_words, num.cast("double") / nw_d)  # noqa: E731
    mean_word_len = ratio(token_chars)
    alpha_word_frac = ratio(alpha_words)
    symbol_word_ratio = ratio(n_symbols)
    bullet_line_frac = bullet_lines.cast("double") / n_lines.cast("double")
    ellipsis_line_frac = ellipsis_lines.cast("double") / n_lines.cast("double")
    gopher_pass = (
        has_words
        & n_words.between(th["min_words"], th["max_words"])
        & mean_word_len.between(
            th["min_mean_word_len"], th["max_mean_word_len"]
        )
        & (symbol_word_ratio <= th["max_symbol_word_ratio"])
        & (bullet_line_frac <= th["max_bullet_line_frac"])
        & (ellipsis_line_frac <= th["max_ellipsis_line_frac"])
        & (alpha_word_frac >= th["min_alpha_word_frac"])
        & (stop_hits >= th["min_stop_hits"])
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        alpha_word_frac.alias("alpha_word_frac"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        n_lines.alias("n_lines"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        stop_hits.alias("n_stop_hits"),
        gopher_pass.alias("gopher_pass"),
    )


# C4 line-keep terminal punctuation (Raffel et al. 2020 §2.2: period,
# exclamation mark, question mark, or end quotation mark).
C4_TERMINAL = (".", "!", "?", '"')


def _c4_exprs(text, min_line_words: int, min_sentences: int):
    """The C4 rule set as pure column expressions, shared by the
    analytics op (``c4_clean``) and the inline hygiene-stage gate —
    returns (lines, kept, clean_text, n_sentences, c4_pass). The page
    verdict's lorem-ipsum / curly-brace tells are evaluated on the
    ORIGINAL text (a dropped code line must still condemn the page)."""
    lines = F.split(text, "\n", -1)

    def keep(line):
        t = F.trim(line)
        ends_ok = functools.reduce(
            operator.or_, [t.endswith(p) for p in C4_TERMINAL]
        )
        return (
            ends_ok
            & (F.size(tokens_of(t)) >= min_line_words)
            & ~F.lower(t).contains("javascript")
        )

    # explicit single-arg lambda: transform would otherwise bind
    # F.trim's optional (str, trimStr) two-param signature
    kept = F.transform(F.filter(lines, keep), lambda l: F.trim(l))
    clean = F.array_join(kept, "\n")

    def n_char(col, ch):
        return F.length(col) - F.length(F.replace(col, F.lit(ch)))

    n_sentences = (
        n_char(clean, ".") + n_char(clean, "!") + n_char(clean, "?")
    ).cast("long")
    c4_pass = (
        (n_sentences >= min_sentences)
        & ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
    )
    return lines, kept, clean, n_sentences, c4_pass


def c4_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_line_words: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning...", §2.2) — the per-DOCUMENT rewrite
    half of the rule family: ``gopher_rules`` (tx11) scores documents,
    ``strip_repeated_chunks`` (dd10) removes cross-corpus boilerplate;
    this keeps only the lines that look like prose. A line survives
    iff (after trimming) it ends in terminal punctuation
    (``C4_TERMINAL``), has at least ``min_line_words`` tokens (shared
    spec), and does not contain the word "javascript"
    (case-insensitive). Returns one row per non-null-text input:

    - ``clean_text``: surviving lines, trimmed, re-joined with \\n;
    - ``n_lines`` / ``n_kept``: line counts before/after the filter;
    - ``n_sentences``: terminal-punctuation ('.', '!', '?') character
      count over ``clean_text`` — the paper's sentence proxy;
    - ``c4_pass``: the document-level verdict — ``n_sentences >=
      min_sentences`` AND the page contains neither "lorem ipsum"
      (case-insensitive) nor a curly brace '{' (the paper's code
      tell). Failing pages are typically dropped; the verdict is a
      column so callers compose it with the other hygiene gates.

    The paper's remaining page rule — the "List of Dirty, Naughty,
    Obscene..." bad-words list — is external data this sandbox (and
    spec) forbids; the mechanism exists as ``blocklist_filter`` /
    token gates, with the list a caller-supplied table.

    Scale: a pure builtin-expression projection (split -> filter ->
    transform -> array_join), whole-stage codegen, zero shuffle, no
    Python. Counts are exact integers and the verdict a boolean, so
    the DuckDB oracle (tx14) compares hash-exactly — including
    ``clean_text`` byte-for-byte."""
    text = F.col(text_col)
    lines, kept, clean, n_sentences, c4_pass = _c4_exprs(
        text, min_line_words, min_sentences
    )
    return df.where(text.isNotNull()).select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        n_sentences.alias("n_sentences"),
        c4_pass.alias("c4_pass"),
    )


# -- PII scrubbing -------------------------------------------------------

# conservative patterns valid in both Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """+ ``n_emails``/``n_phones`` (match counts) and
    ``text_scrubbed`` with emails -> ``<EMAIL>`` and phone numbers ->
    ``<PHONE>``. Regex-only (whole-stage codegen).

    Precedence contract: emails are replaced FIRST, and
    ``n_phones`` is counted on the email-scrubbed intermediate — so a
    phone-shaped substring inside an email local part is neither
    double-redacted nor counted. Counts always agree with the
    replacements actually present in ``text_scrubbed``."""
    text = F.col(text_col)
    email_scrubbed = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return df.select(
        "*",
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(email_scrubbed, F.lit(PHONE_RE), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(email_scrubbed, PHONE_RE, "<PHONE>")
        .alias("text_scrubbed"),
    )


# -- winnowing fingerprints (rolling hash; mapInPandas kernel) ----------

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def winnow_py(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Winnowing fingerprint set (Schleimer et al. 2003): k-gram
    rolling hashes, min per sliding window, deduped, sorted. Pure
    function used by both the Spark kernel and the pytest oracle."""
    b = text.lower().encode("utf-8", errors="replace")
    if len(b) < k:
        return []
    arr = np.frombuffer(b, dtype=np.uint8)
    win_view = np.lib.stride_tricks.sliding_window_view(arr, k)
    h = np.full(win_view.shape[0], _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            h = (h ^ win_view[:, j].astype(np.uint64)) * _FNV_PRIME
        h = splitmix64(h)
    if h.size < window:
        mins = np.array([h.min()], dtype=np.uint64)
    else:
        mins = np.min(
            np.lib.stride_tricks.sliding_window_view(h, window), axis=1
        )
    out = np.unique(mins).astype(np.int64)
    return out.tolist()


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 8, window: int = 4,
) -> DataFrame:
    """(id, text) -> (id, fingerprints array<bigint>, n_fp)."""
    from el.io import scatter_small

    cols = scatter_small(df.select(id_col, text_col))

    def gen(batches):
        for pdf in batches:
            fps = [
                winnow_py(t, k, window) if isinstance(t, str) else []
                for t in pdf[text_col].tolist()
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "fingerprints": fps})

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("fingerprints", T.ArrayType(T.LongType()), False),
        ]
    )
    return cols.mapInPandas(gen, schema=schema).withColumn(
        "n_fp", F.size("fingerprints").cast("long")
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    repetition/quality signal (highly repetitive or templated text
    compresses far below ~0.4; high-entropy garbage sits near 1.0).
    ``ratio = len(zlib.compress(utf8(text), level=6)) / len(utf8)``.

    zlib level 6 output is a pure function of the bytes (stdlib,
    same everywhere), so the column is deterministic across runs and
    executors. One vectorized mapInPandas pass, no shuffle; rows-only
    check (no SQL engine can reproduce zlib)."""
    import zlib

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), False),
            T.StructField("ratio", T.DoubleType(), True),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, nb, ratio = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                ids.append(int(i))
                nb.append(len(raw))
                ratio.append(
                    len(zlib.compress(raw, 6)) / len(raw) if raw else None
                )
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": nb, "ratio": ratio}
            )

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def nfc_normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """+ ``text_nfc``, ``changed``: Unicode NFC canonicalization — the
    standard repair for decomposed forms (e + combining accent vs the
    precomposed codepoint) ahead of hashing/dedup: exact dedup over
    un-normalized text misses byte-different canonical-equal docs.

    Spark has no builtin NFC, so this is an Arrow-batched kernel; the
    DuckDB oracle (tx10) runs its NATIVE ``nfc_normalize``, making the
    check a cross-implementation Unicode-conformance comparison
    rather than self-parity."""

    @F.pandas_udf(T.StringType())
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if isinstance(t, str)
            else None
        )

    return df.withColumn("text_nfc", nfc(F.col(text_col))).select(
        id_col,
        "text_nfc",
        (F.col("text_nfc") != F.col(text_col)).alias("changed"),
    )


# -- corpus-statistical quality: bigram rarity (CCNet-style) -------------


def _token_bigram_keys(text_col, n_buckets: int, seed: str):
    """Token-bigram keys as a Spark expression: each token md5-bucketed
    (the ds1 cross-engine-portable hash), adjacent buckets packed into
    one long ``b1 * n_buckets + b2``. Fixed-width integer keys — the
    count-table shuffle and the scoring join never carry token text."""
    toks = tokens_of(F.col(text_col))
    bk = F.transform(
        toks,
        lambda t: (
            F.conv(F.substring(F.md5(F.concat(t, F.lit(seed))), 1, 8), 16, 10)
            .cast("long")
            % n_buckets
        ),
    )
    glen = F.greatest(F.size(bk) - 1, F.lit(0))
    return F.zip_with(
        F.slice(bk, 1, glen),
        F.slice(bk, 2, glen),
        lambda a, b: a * n_buckets + b,
    )


def corpus_bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1 << 16,
    seed: str = "lm",
) -> DataFrame:
    """Fit step of the CCNet-shaped corpus language-model signal:
    occurrence counts per (bucketed) token bigram over the whole
    corpus. One explode -> hash groupBy with map-side partial
    aggregation; the table is bounded by min(distinct bigrams,
    n_buckets^2) and stays DISTRIBUTED — scoring joins it, nothing
    collects. A persisted counts table is the model artifact; refit
    only on corpus change (the TF-IDF discipline)."""
    keys = _token_bigram_keys(text_col, n_buckets, seed)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(keys).alias("bigram_key"))
        .groupBy("bigram_key")
        .agg(F.count("*").cast("long").alias("bigram_count"))
    )


class BigramCountsModel:
    """Persisted corpus-bigram-counts artifact: the
    fit-once / load-everywhere discipline TF-IDF, LDA, and IVF already
    follow, applied to the lm1 quality gate. Unlike IVF centroids the
    fit is a DISTRIBUTED table (bounded by min(distinct bigrams,
    n_buckets^2), never collected), so the artifact payload is
    parquet, committed like every model artifact
    (``el.catalog.commit_artifact``).

    The model carries its fit params (n_buckets, seed) and SCORES with
    them: scoring with a different seed/bucketing than the fit would
    silently make every bigram "unseen" — exactly the mismatch
    fit_or_load refuses, and why score() exists instead of callers
    re-passing key params to bigram_rarity.

    Determinism: counts are exact integers from a hash groupBy —
    partitioning-invariant by construction (asserted in tests), so a
    refit on the same corpus yields the identical table at any
    parallelism level."""

    DATA = "counts.parquet"

    def __init__(self, counts: DataFrame, meta: dict):
        self.counts = counts
        self.meta = meta

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        text_col: str = "text",
        n_buckets: int = 1 << 16,
        seed: str = "lm",
    ) -> "BigramCountsModel":
        counts = corpus_bigram_counts(df, text_col, n_buckets, seed)
        return cls(
            counts, {"n_buckets": n_buckets, "seed": seed, "version": 1}
        )

    def save(self, path: str) -> "BigramCountsModel":
        """counts.parquet, then the artifact commit
        (``el.catalog.commit_artifact``). Returns a model re-bound to
        the persisted table (scoring after save() reads the committed
        parquet, not the live fit lineage)."""
        data = os.path.join(path, self.DATA)
        commit_artifact(
            path, lambda: self.counts.write.mode("overwrite").parquet(data),
            self.meta,
        )
        spark = self.counts.sparkSession
        return BigramCountsModel(spark.read.parquet(data), dict(self.meta))

    @classmethod
    def load(cls, spark, path: str) -> "BigramCountsModel":
        data = spark.read.parquet(os.path.join(path, cls.DATA))
        return cls(data, artifact_meta(path))

    @classmethod
    def fit_or_load(
        cls, spark, df: DataFrame, path: str, **fit_kw
    ) -> "BigramCountsModel":
        """Load the committed artifact if present, else fit and save,
        through the one fit-once gate (``el.catalog.load_or_fit``).
        A loaded artifact must MATCH the requested fit params;
        mismatch raises — silently scoring against a different
        seed/bucketing would mark the whole corpus unseen."""
        return load_or_fit(
            path, lambda p: cls.load(spark, p),
            lambda: cls.fit(df, **fit_kw), fit_kw,
        )

    def score(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        rare_max: int = 1,
    ) -> DataFrame:
        """bigram_rarity against the persisted fit, with the fit's own
        key params — novel bigrams count as maximally rare and surface
        in n_unseen (the cross-corpus contract)."""
        return bigram_rarity(
            df,
            self.counts,
            text_col=text_col,
            id_col=id_col,
            n_buckets=self.meta["n_buckets"],
            seed=self.meta["seed"],
            rare_max=rare_max,
        )


def bigram_rarity(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 16,
    seed: str = "lm",
    rare_max: int = 1,
) -> DataFrame:
    """Score step: per document, how much of it is made of corpus-rare
    token bigrams (CCNet uses LM perplexity for this gate; the rarity
    rate is the exact-arithmetic analog — transcendental-free, so the
    DuckDB oracle hash-matches bit-for-bit instead of trusting two
    libm implementations to round log() identically).

    Returns ``(id, n_bigrams, n_rare, n_unseen, rare_frac, sum_count,
    avg_count)``: n_rare counts bigram OCCURRENCES whose corpus count
    is <= rare_max (hapax bigrams by default — gibberish and OCR noise
    score high, boilerplate scores ~0), rare_frac and avg_count are
    single IEEE divisions with oracle-mirrored operand order.

    Cross-corpus reuse (the persisted-artifact path): a bigram ABSENT
    from the fitted counts table has corpus count 0 — the rarest
    possible — so the postings LEFT-join the counts table and a
    missing count coalesces to 0, which always satisfies
    ``count <= rare_max``. Never-seen bigrams therefore count toward
    n_rare (and are surfaced separately as n_unseen occurrences);
    scoring new documents against an old fit ranks novel gibberish
    HIGHEST, as the gate requires. When scoring the fit corpus against
    itself every bigram is present and n_unseen is identically 0.

    Scale: one explode to integer postings, one equi-join against the
    counts table on a long key (broadcast-able when the fitted table
    is small; AQE decides), one groupBy id — all linear; docs shorter
    than 2 tokens surface with zeroed stats."""
    keys = _token_bigram_keys(text_col, n_buckets, seed)
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), keys.alias("_k")
    )
    totals = base.select(id_col, F.size("_k").cast("long").alias("n_bigrams"))
    posts = base.select(id_col, F.explode("_k").alias("bigram_key"))
    cnt0 = F.coalesce(F.col("bigram_count"), F.lit(0).cast("long"))
    scored = (
        posts.join(counts, on="bigram_key", how="left")
        .groupBy(id_col)
        .agg(
            F.sum(F.when(cnt0 <= rare_max, 1).otherwise(0))
            .cast("long").alias("n_rare"),
            F.sum(F.when(F.col("bigram_count").isNull(), 1).otherwise(0))
            .cast("long").alias("n_unseen"),
            F.sum(cnt0).cast("long").alias("sum_count"),
        )
    )
    n_rare = F.coalesce(F.col("n_rare"), F.lit(0)).cast("long")
    n_uns = F.coalesce(F.col("n_unseen"), F.lit(0)).cast("long")
    sum_c = F.coalesce(F.col("sum_count"), F.lit(0)).cast("long")
    denom = F.greatest(F.col("n_bigrams"), F.lit(1)).cast("double")
    return totals.join(scored, on=id_col, how="left").select(
        id_col,
        "n_bigrams",
        n_rare.alias("n_rare"),
        n_uns.alias("n_unseen"),
        (n_rare.cast("double") / denom).alias("rare_frac"),
        sum_c.alias("sum_count"),
        (sum_c.cast("double") / denom).alias("avg_count"),
    )


# -- host-level corpus accounting ----------------------------------------


def host_stats(
    df: DataFrame,
    host_col: str = "source",
    text_col: str = "text",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Per-host corpus accounting — the C4/CCNet-style host ledger that
    decides crawl-hygiene policy per site (drop spam hosts, cap
    over-represented ones, route high-dup hosts to aggressive dedup):

    - ``n_docs`` / ``n_null`` — pages seen, pages with no text;
    - ``total_chars``, ``mean_chars`` — exact char sum over non-null
      text and its single-division mean;
    - ``n_langs`` — exact distinct language codes (when ``lang_col``);
    - ``n_distinct_texts`` — exact distinct md5(text) over non-null
      text (32-byte digests shuffle, never the text);
    - ``dup_rate`` — ``1 - n_distinct_texts / n_text`` (the host's
      within-host exact-duplicate fraction; 0.0 when no text).

    One hash aggregate over the host key — partial aggregation
    map-side, the exchange carries one row per (host, digest) for the
    distinct and one row per host for the sums. At 100 TB the host
    key is ~1e7-cardinality (far under doc cardinality) and mildly
    skewed; Spark's two-phase distinct-agg rewrite plus AQE handles
    the skew without salting. Every output is an exact integer or a
    single IEEE division of exact integers, so the tx12 DuckDB oracle
    compares hash-exactly."""
    t = F.col(text_col)
    has_text = t.isNotNull()
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(has_text, 0).otherwise(1)).cast("long").alias("n_null"),
        F.sum(F.when(has_text, F.length(t)).otherwise(0))
        .cast("long")
        .alias("total_chars"),
        F.count_distinct(F.when(has_text, F.md5(t.cast("binary"))))
        .cast("long")
        .alias("n_distinct_texts"),
    ]
    if lang_col is not None:
        aggs.append(
            F.count_distinct(F.col(lang_col)).cast("long").alias("n_langs")
        )
    g = df.groupBy(F.col(host_col).alias("host")).agg(*aggs)
    n_text = (F.col("n_docs") - F.col("n_null")).cast("long")
    cols = [
        "host",
        "n_docs",
        "n_null",
        "total_chars",
        F.when(
            n_text > 0, F.col("total_chars").cast("double") / n_text.cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("mean_chars"),
        "n_distinct_texts",
        F.when(
            n_text > 0,
            F.lit(1.0)
            - F.col("n_distinct_texts").cast("double") / n_text.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_rate"),
    ]
    if lang_col is not None:
        cols.insert(5, F.col("n_langs"))
    return g.select(*cols)


# -- host blocklist filtering (UT1/RefinedWeb-style URL filtering) --------


def normalized_host(col: Column) -> Column:
    """Lowercased authority of an absolute URL with leading ``www.``
    and default ports (80/443) stripped — the same normalization
    canonicalize_url applies to its host part, exposed standalone as
    the join/blocklist key. NULL for inputs without ``scheme://``
    (relative URLs carry no authority). Pure builtin projection."""
    host = F.lower(F.regexp_extract(col, _SCHEME_HOST, 1))
    host = F.regexp_replace(
        F.regexp_replace(host, "^www\\.", ""), ":(80|443)$", ""
    )
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def host_suffix_chain(col: Column) -> Column:
    """All dot-suffixes of a hostname, most-specific first:
    ``a.b.c.com -> [a.b.c.com, b.c.com, c.com, com]``. A blocklist
    entry matches a host iff it appears in the host's chain, which
    gives registrable-domain entries subdomain-blocking semantics and
    exact-host entries exact semantics with ONE equi-joinable key —
    no LIKE scans, no per-entry regex."""
    parts = F.split(col, "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n), "."),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    blocked_col: str = "blocked_host",
) -> DataFrame:
    """Drop rows whose host matches a domain blocklist (UT1 adult/
    malware lists, RefinedWeb's URL filtering): an entry blocks the
    exact host AND every subdomain of it (suffix-chain semantics,
    ``host_suffix_chain``). NULL hosts are kept — no authority to
    match; gate them separately if the pipeline wants them gone.

    Scale shape: the CORPUS is never exploded and never shuffled.
    The distinct-host table (~1e7-1e8 rows at crawl scale, orders of
    magnitude under doc cardinality) is exploded to its suffix chain
    and semi-joined against the broadcast blocklist; the resulting
    bad-host table (hosts actually blocked — small) anti-joins back
    against the corpus, where AQE converts it to a broadcast anti
    join. Two broadcast joins + one tiny distinct: the only exchange
    carrying corpus rows is none at all."""
    host = F.col(host_col)
    hosts = df.where(host.isNotNull()).select(host.alias("_bl_host")).distinct()
    sfx = hosts.select(
        "_bl_host",
        F.explode(host_suffix_chain(F.col("_bl_host"))).alias("_bl_sfx"),
    )
    bad = (
        sfx.join(
            F.broadcast(blocklist.select(F.col(blocked_col).alias("_bl_sfx"))),
            on="_bl_sfx",
            how="left_semi",
        )
        .select("_bl_host")
        .distinct()
    )
    # dataframe-qualified refs: a caller-supplied host_col named
    # "_bl_host" must not make the anti-join condition ambiguous
    return df.join(
        bad, on=df[host_col] == bad["_bl_host"], how="left_anti"
    )
