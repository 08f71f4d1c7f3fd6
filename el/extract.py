"""Extraction stage: html -> text (EXTRACT_SPEC v1) -> mentions.

EXTRACT_SPEC v1 (pinned pure function; SURVEY.md §0 byte-identity
invariant — per-url output is identical across runs, partitionings,
and parallelism levels; every mention row carries ``extract_sha``, the
sha256 of its page's text, which pytest checks against JVM
``sha2(extract_text_udf(html), 256)``):
  1. decode utf-8 with errors='replace'
  2. drop <script>...</script> and <style>...</style> blocks
  3. concatenate the inner text of all <p ...>...</p> blocks (' ' join)
  4. strip any remaining tags
  5. html-unescape entities
  6. collapse whitespace runs to single spaces, strip ends
  7. NFC-normalize
  8. empty -> NULL

``extract_mentions`` is the one extraction operator: a single
mapInPandas pass per page runs the text spec, its sha and the mention
rows, so the stage crosses into Python once. ``extract_text_udf``
(scalar pandas_udf) exposes the text spec alone. Both are
Arrow-batched; string work inside a batch uses precompiled regexes —
there is no row-at-a-time ``F.udf`` anywhere (BASELINE.json
input_hint mandate).
"""

from __future__ import annotations

import hashlib
import html as html_mod
import re
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from el.hashing import stable_id64
from el.schemas import MENTIONS

_RE_SCRIPT = re.compile(r"<(script|style)[^>]*>.*?</\1>", re.S | re.I)
_RE_P = re.compile(r"<p[^>]*>(.*?)</p>", re.S | re.I)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"\s+")

# a mention is a run of Capitalized tokens (abbreviation dots and an
# inserted comma allowed), as planted by the corpus generator.  The run
# is CAPPED at 12 tokens of <= 24 letters each (~320 bytes max surface):
# real crawl pages contain pathological maximal runs (an all-caps nav
# bar "HOME ABOUT PRODUCTS ..." is one run of hundreds of tokens) and an
# unbounded surface would flow into norm_name and blow up the
# width-bounded Jaro-Winkler kernel's inputs (el/simfn.py:JW_MAX_LEN).
# A longer run simply yields several adjacent capped mentions — no row
# is dropped, nothing is unbounded.
_RE_MENTION = re.compile(
    r"[A-Z][A-Za-z]{0,23}\.?,?(?: [A-Z][A-Za-z]{0,23}\.?,?){0,11}"
)


def extract_text_py(raw: bytes | None) -> str | None:
    """EXTRACT_SPEC v1 on one document (pure; reused by tests)."""
    if raw is None:
        return None
    s = raw.decode("utf-8", errors="replace")
    s = _RE_SCRIPT.sub(" ", s)
    paras = _RE_P.findall(s)
    if not paras:
        return None
    s = " ".join(paras)
    s = _RE_TAG.sub(" ", s)
    s = html_mod.unescape(s)
    s = _RE_WS.sub(" ", s).strip()
    s = unicodedata.normalize("NFC", s)
    return s or None


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


def _mention_rows(url: str, text: str, sha: str) -> list[dict]:
    out = []
    spans = list(_RE_MENTION.finditer(text))
    if not spans:
        return out
    ctx = _RE_MENTION.sub(" ", text)
    ctx = _RE_WS.sub(" ", ctx).strip()
    for idx, m in enumerate(spans):
        surface = m.group(0).strip().rstrip(",")
        out.append(
            {
                "url": url,
                "mention_id": stable_id64([url, str(idx)]),
                "mention_idx": idx,
                "surface": surface,
                "context": ctx,
                "extract_sha": sha,
            }
        )
    return out


def extract_mentions(pages: DataFrame) -> DataFrame:
    """(url, html) -> mentions table.

    One row in, N mention rows out (the engine's UDTF-shaped op) via
    ONE mapInPandas: per page it runs EXTRACT_SPEC v1, skips pages
    with no text, hashes the text (``extract_sha``) and emits the
    mention rows. Normalization (lower/strip punct/tokenize/sort) is
    done JVM-side with builtin functions so Catalyst keeps it in
    whole-stage codegen."""
    raw_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("mention_id", T.LongType(), False),
            T.StructField("mention_idx", T.IntegerType(), False),
            T.StructField("surface", T.StringType(), False),
            T.StructField("context", T.StringType(), False),
            T.StructField("extract_sha", T.StringType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            rows: list[dict] = []
            for url, raw in zip(pdf["url"].tolist(), pdf["html"].tolist()):
                text = extract_text_py(raw)
                if text is None:
                    continue
                sha = hashlib.sha256(text.encode("utf-8")).hexdigest()
                rows.extend(_mention_rows(url, text, sha))
            yield pd.DataFrame(
                rows, columns=[f.name for f in raw_schema.fields]
            )

    raw = pages.select("url", "html").mapInPandas(gen, schema=raw_schema)

    norm_tokens = F.array_sort(
        F.filter(
            F.split(
                F.lower(F.regexp_replace(F.col("surface"), r"[^a-zA-Z0-9]+", " ")),
                r" +",
            ),
            lambda t: F.length(t) > 0,
        )
    )
    return raw.select(
        "url",
        "mention_id",
        "mention_idx",
        "surface",
        F.array_join(norm_tokens, " ").alias("norm_name"),
        norm_tokens.alias("name_tokens"),
        "context",
        "extract_sha",
    ).select([f.name for f in MENTIONS.fields])


# -- hyperlink extraction (web-graph construction) -----------------------

# double-quoted href values only: the synthetic corpus and the oracle
# both emit canonical double-quoted attributes, and a permissive
# single-quote/bare variant would diverge between Java regex and RE2
# on pathological markup.  The capture is everything up to the closing
# quote — URL *parsing* (host split, canonicalization) happens on the
# captured string with el.textops machinery, not inside this regex.
HREF_RE = 'href="([^"]*)"'


def extract_links(
    pages: DataFrame, html_col: str = "html", id_col: str = "url"
) -> DataFrame:
    """``(id, html)`` -> one row per ``href="..."`` occurrence:
    ``(id, link_no, href, dst_host)`` — the web-graph edge extraction
    that feeds host-graph rollups and PageRank (el.clustering.pagerank).

    ``link_no`` is the 0-based occurrence index within the page (source
    order, so the output is deterministic and re-joinable to anchor
    positions); ``dst_host`` is the lowercased authority with leading
    ``www.`` and default ports stripped (the same normalization as
    el.textops.canonicalize_url), NULL for relative links. Pages with
    no links produce no rows (inner semantics — a crawl frontier wants
    the edge list, not null edges; outer-join back to pages for
    dangling-page accounting, as pagerank() does internally).

    Pure builtin composition (regexp_extract_all -> posexplode ->
    host regexes): whole-stage codegen end-to-end, no Python, no
    shuffle — at crawl scale this is a scan-stage projection whose
    output feeds the (src_host, dst_host) groupBy, so only extracted
    edges (not page bytes) ever reach an exchange. Binary html is
    decoded as UTF-8 via cast (Spark's binary->string cast), matching
    EXTRACT_SPEC's utf-8 posture."""
    from el.textops import normalized_host

    src = F.col(html_col)
    if dict(pages.dtypes).get(html_col) == "binary":
        src = src.cast("string")
    exploded = pages.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(src, F.lit(HREF_RE), F.lit(1))
        ).alias("link_no", "href"),
    )
    return exploded.select(
        id_col,
        F.col("link_no").cast("int").alias("link_no"),
        "href",
        normalized_host(F.col("href")).alias("dst_host"),
    )


# full <a ...href="X"...>TEXT</a> tag: group 1 = href, group 2 = the
# anchor text (element-free inner text only — nested markup is the
# real parser's job; the regex is valid in both Java regex and RE2)
ANCHOR_RE = '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_anchor_texts(
    pages: DataFrame, html_col: str = "html", id_col: str = "url"
) -> DataFrame:
    """``(id, html)`` -> one row per anchor tag: ``(id, anchor_no,
    href, dst_host, anchor_text)`` — the anchor-SURFACE companion to
    ``extract_links``: the text a linking page chooses for its target
    is the classic alias-evidence signal for entity linking (anchor
    statistics as name priors: Cucerzan, EMNLP 2007; Milne & Witten,
    CIKM 2008). ``anchor_no`` is the 0-based occurrence index in
    source order; ``dst_host`` is normalized exactly like
    extract_links (NULL for relative hrefs).

    Same scale shape as extract_links: regexp_extract_all ->
    posexplode -> per-match group extraction, all builtin expressions
    in the scan stage — only (id, href, text) triples ever leave it,
    never page bytes."""
    from el.textops import normalized_host

    src = F.col(html_col)
    if dict(pages.dtypes).get(html_col) == "binary":
        src = src.cast("string")
    exploded = pages.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(src, F.lit(ANCHOR_RE), F.lit(0))
        ).alias("anchor_no", "_tag"),
    )
    href = F.regexp_extract(F.col("_tag"), ANCHOR_RE, 1)
    return exploded.select(
        id_col,
        F.col("anchor_no").cast("int").alias("anchor_no"),
        href.alias("href"),
        normalized_host(href).alias("dst_host"),
        F.regexp_extract(F.col("_tag"), ANCHOR_RE, 2).alias("anchor_text"),
    )


def anchor_alias_stats(
    anchors: DataFrame,
    host_col: str = "dst_host",
    text_col: str = "anchor_text",
    src_col: str = "url",
) -> DataFrame:
    """Anchor-alias evidence table over ``extract_anchor_texts``
    output: ``(dst_host, alias, n_links, n_src_pages)`` where
    ``alias`` is the whitespace-collapsed lowercased anchor surface.
    This is the web-scale name-prior table entity linkers rank
    candidates with — how often, and from how many distinct pages,
    a surface form points at a host. Relative links (NULL host) and
    empty surfaces carry no alias evidence and are dropped.

    One hash aggregate on (host, alias): partial aggregation map-side;
    the count-distinct of source pages rides Spark's two-phase
    distinct-agg rewrite. At crawl scale cardinality is bounded by
    distinct (host, surface) pairs — far under the anchor-occurrence
    count the scan stage emits."""
    alias = F.lower(
        F.trim(F.regexp_replace(F.col(text_col), "\\s+", " "))
    )
    return (
        anchors.where(F.col(host_col).isNotNull())
        .select(
            F.col(host_col).alias("dst_host"),
            alias.alias("alias"),
            F.col(src_col).alias("_src"),
        )
        .where(F.col("alias") != "")
        .groupBy("dst_host", "alias")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.count_distinct(F.col("_src")).cast("long").alias("n_src_pages"),
        )
    )
