"""EXTRACT_SPEC v1: byte-identity of extracted text, and mention
extraction shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from el.extract import extract_mentions, extract_text_py, extract_text_udf
from el.fixtures import gen_web_pages
from el.pipeline import PipelineConfig, dedup_latest, mentions_stage

# hand-built pages whose text bytes differ from their html bytes: the
# sha must be taken over the decoded, unescaped, NFC-folded text
HAND_PAGES = [
    ("hand://non-ascii", "<p>Zoë Müller met Anna Berg.</p>".encode()),
    ("hand://entity", b"<p>Ren&eacute; Dupont met Anna Berg.</p>"),
    ("hand://nfd", "<p>Jose\u0301 Garcia met Anna Berg.</p>".encode()),
    ("hand://bad-utf8", b"<p>Karl \xff\xfe Marx met Anna Berg.</p>"),
]


def test_extract_byte_identity(spark):
    pages = gen_web_pages(spark, 400)
    ext = pages.withColumn("extracted", extract_text_udf(F.col("html")))
    bad = ext.where(
        (
            F.col("text").isNotNull() & (F.col("extracted") != F.col("text"))
        )
        | (F.col("text").isNull() & F.col("extracted").isNotNull())
        | (F.col("text").isNotNull() & F.col("extracted").isNull())
    ).count()
    assert bad == 0

    # every mention's extract_sha (hashlib, inside the fused kernel)
    # equals JVM sha2 over the text spec's output for its page (one
    # page per url: re-crawls are deduped first)
    hand = spark.createDataFrame(HAND_PAGES, "url string, html binary")
    src = dedup_latest(pages).select("url", "html").unionByName(hand)
    want = src.select(
        "url", F.sha2(extract_text_udf(F.col("html")), 256).alias("want")
    )
    got = extract_mentions(src).select("url", "extract_sha")
    joined = got.join(want, "url", "left")
    assert joined.where(~F.col("extract_sha").eqNullSafe(F.col("want"))).count() == 0
    hand_urls = {u for u, _ in HAND_PAGES}
    seen = {r.url for r in got.where(F.col("url").isin(*hand_urls)).collect()}
    assert seen == hand_urls
    texts = {u: extract_text_py(h) for u, h in HAND_PAGES}
    assert texts["hand://entity"].startswith("René ")
    assert texts["hand://nfd"].startswith("José ")
    assert "\ufffd" in texts["hand://bad-utf8"]


def test_extract_pure_function_examples():
    assert extract_text_py(None) is None
    assert extract_text_py(b"<html><body>no paragraph</body></html>") is None
    got = extract_text_py(
        b"<html><script>var x='<p>trap</p>';</script>"
        b"<body><nav>chrome</nav><p> a  b\nc </p><p>d &amp; e</p>"
        b"<footer>f</footer></body></html>"
    )
    assert got == "a b c d & e"


def test_mentions_shape(spark):
    pages = gen_web_pages(spark, 300)
    mentions = mentions_stage(pages, PipelineConfig(use_lsh=False))
    rows = mentions.collect()
    assert len(rows) > 100
    by_url: dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, ms in by_url.items():
        idxs = sorted(m["mention_idx"] for m in ms)
        assert idxs == list(range(len(ms)))  # dense, primary = 0
        assert len({m["mention_id"] for m in ms}) == len(ms)
        for m in ms:
            assert m["surface"][0].isupper()
            assert m["norm_name"] == " ".join(sorted(m["name_tokens"]))
            # context carries no capitalized (mention) tokens
            assert m["context"] == m["context"].lower()


def test_mention_ids_stable_across_runs(spark):
    pages = gen_web_pages(spark, 200)
    cfg = PipelineConfig(use_lsh=False)
    a = {
        (r["url"], r["mention_idx"]): r["mention_id"]
        for r in mentions_stage(pages, cfg).collect()
    }
    b = {
        (r["url"], r["mention_idx"]): r["mention_id"]
        for r in mentions_stage(gen_web_pages(spark, 200, num_partitions=3), cfg).collect()
    }
    assert a == b


def test_extract_links_binary_html_and_positions(spark):
    """extract_links over BINARY html (the fixture/WARC column type):
    double-quoted hrefs come out in source order with 0-based
    occurrence indices, hosts are normalized (lower, www/default-port
    stripped), relative links carry a NULL host, and pages with no
    anchors produce no rows."""
    from el.extract import extract_links

    rows = [
        (
            "u1",
            (
                '<html><body><a href="https://WWW.Ex.ORG:443/A?x=1">a</a>'
                '<p>mid</p><a href="/rel">r</a>'
                '<a href="http://cdn.ex.net:80/z#f">c</a></body></html>'
            ).encode(),
        ),
        ("u2", b"<html><body><p>no links at all</p></body></html>"),
        ("u3", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {
        (r.url, r.link_no): (r.href, r.dst_host)
        for r in extract_links(df).collect()
    }
    assert got == {
        ("u1", 0): ("https://WWW.Ex.ORG:443/A?x=1", "ex.org"),
        ("u1", 1): ("/rel", None),
        ("u1", 2): ("http://cdn.ex.net:80/z#f", "cdn.ex.net"),
    }


def test_extract_links_feeds_pagerank(spark):
    """Composition e2e: synthesized pages -> extract_links ->
    (src_host, dst_host) edge rollup -> pagerank. The 3-host cycle
    with one extra edge must rank the doubly-linked host first, and
    ranks must sum to ~1 (stochastic sanity)."""
    from el.clustering import pagerank
    from el.extract import extract_links

    def page(host, targets):
        body = "".join(f'<a href="https://{t}/p">x</a>' for t in targets)
        return (f"https://{host}/", f"<html><body>{body}</body></html>".encode())

    rows = [
        page("a.com", ["b.com"]),
        page("b.com", ["c.com"]),
        page("c.com", ["a.com"]),
        page("d.com", ["a.com"]),  # extra in-link: a.com must win
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    links = extract_links(df)
    edges = (
        links.where(F.col("dst_host").isNotNull())
        .select(
            F.regexp_extract("url", "^https://([^/]+)", 1).alias("src"),
            F.col("dst_host").alias("dst"),
        )
        .groupBy("src", "dst")
        .count()
        .select("src", "dst")
    )
    ranks = {r.node: r["rank"] for r in pagerank(edges, n_iter=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert max(ranks, key=ranks.get) == "a.com"


def test_anchor_alias_stats_crafted(spark):
    """g2: anchor surfaces normalize (whitespace collapse + lowercase)
    and aggregate into per-(host, alias) evidence; relative and
    empty-text anchors carry none; a page linking the same target
    twice counts 2 links but 1 source page."""
    from el.extract import anchor_alias_stats, extract_anchor_texts

    rows = [
        ("u1", '<html><a href="https://www.acme.com/x">ACME  Corp</a>'
               '<a class="z" href="https://acme.com:443/y">acme corp</a>'
               "</html>"),                              # 2 links, 1 page
        ("u2", '<a href="http://ACME.com/z">Acme\tCorp</a>'
               '<a href="/rel">Acme Corp</a>'           # relative: dropped
               '<a href="https://other.org/"></a>'),    # empty: dropped
        ("u3", '<a href="https://other.org/p"> Other  Site </a>'),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    anchors = extract_anchor_texts(df)
    # extraction keeps everything, with source-order index
    a1 = {(r.anchor_no, r.dst_host, r.anchor_text)
          for r in anchors.where(F.col("url") == "u1").collect()}
    assert a1 == {(0, "acme.com", "ACME  Corp"), (1, "acme.com", "acme corp")}

    stats = {(r.dst_host, r.alias): (r.n_links, r.n_src_pages)
             for r in anchor_alias_stats(anchors).collect()}
    assert stats == {
        ("acme.com", "acme corp"): (3, 2),   # u1 twice + u2 once
        ("other.org", "other site"): (1, 1),  # trimmed + collapsed
    }
