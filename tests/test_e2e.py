"""End-to-end gate: full pipeline (all three blocking strategies —
name_token + lsh_band + LDA topic buckets) on the seeded fixture.
This is the BASELINE.md gate: pairwise F1 >= 0.99 on labeled pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from el.evaluate import blocking_recall, pairwise_scores, primary_clusters
from el.fixtures import gen_labeled_pairs, gen_web_pages
from el.pipeline import PipelineConfig, run_pipeline

N_PAGES = 1200


@pytest.fixture(scope="module")
def e2e(spark):
    pages = gen_web_pages(spark, N_PAGES).persist()
    cfg = PipelineConfig(use_lsh=True, use_topics=True)
    out = run_pipeline(spark, pages, cfg)
    out["mentions"] = out["mentions"].persist()
    out["block_keys"] = out["block_keys"].persist()
    out["scored_pairs"] = out["scored_pairs"].persist()
    out["clusters"] = out["clusters"].persist()
    labeled = gen_labeled_pairs(spark, N_PAGES).persist()
    return out, labeled


def test_all_three_strategies_present(spark, e2e):
    out, _ = e2e
    strategies = {
        r[0] for r in out["block_keys"].select("strategy").distinct().collect()
    }
    assert strategies == {"name_token", "lsh_band", "topic"}


def test_blocking_recall_floor(spark, e2e):
    # the block stage stores the raw key union; pairs come from the
    # skew-capped keys, so the recall floor is measured on those
    from el.pipeline import skew_capped_keys

    out, labeled = e2e
    capped, _ = skew_capped_keys(out["block_keys"], PipelineConfig())
    br = blocking_recall(labeled, capped, out["mentions"])
    assert br >= 0.99


def test_scoring_udf_runs_once(spark):
    """Each stage is materialized once, inside its own timing: the
    scoring UDF (``feats``) runs in exactly one SQL execution, and
    later reads of scored_pairs and clusters reuse that result."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    seen = {e.executionId() for e in executions()}
    pages = gen_web_pages(spark, 300)
    out = run_pipeline(spark, pages, PipelineConfig())
    assert out["scored_pairs"].persist().count() > 0
    assert out["clusters"].persist().count() > 0
    scoring = [
        e.executionId()
        for e in executions()
        if e.executionId() not in seen
        and "feats(" in e.physicalPlanDescription()
    ]
    assert len(scoring) == 1, scoring


def test_run_pipeline_execution_count(spark, monkeypatch, tmp_path):
    """Pins the Spark SQL executions of one catalog-less run with a
    prefit TF-IDF artifact in its model dir and topics off: one eager
    checkpoint per stage, whose row count is observed in flight (no
    count() after it), plus CC's rounds + 1 checkpoints inside the
    clusters stage. Loading the artifact runs no Spark job."""
    import el.clustering as clustering
    from el.pipeline import mentions_stage
    from el.runner import STAGES, RunConfig, execute
    from el.tfidf import TfidfModel

    pages = gen_web_pages(spark, 200).localCheckpoint()
    cfg = PipelineConfig(use_topics=False)
    TfidfModel.fit(mentions_stage(pages, cfg), "context").save(
        str(tmp_path / "tfidf")
    )
    rounds = []
    signature = clustering._signature

    def counted(metrics):
        rounds.append(metrics)
        return signature(metrics)

    monkeypatch.setattr(clustering, "_signature", counted)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return {xs.apply(i).executionId() for i in range(xs.size())}

    last = max(execution_ids(), default=-1)
    execute(spark, pages, RunConfig(pipeline=cfg, model_dir=str(tmp_path)))
    new = [i for i in execution_ids() if i > last]

    assert rounds and len(STAGES) == 7
    assert len(new) == len(STAGES) + len(rounds) + 1


def test_bench_pipeline_smoke(spark, monkeypatch, tmp_path):
    """bench.py's pipeline entries at its 600-page floor: the model
    fit lands in a model dir and the executor loads it from there."""
    import bench

    monkeypatch.setattr(bench, "_RUN_SCRATCH", [str(tmp_path)])
    times, info = bench.bench_pipeline(spark, 0.0)
    keys = {
        "gen", "hygiene", "refit", "extract", "vec_block",
        "extract_block_fit", "pairs", "score", "cluster",
    }
    assert set(times) == {f"pipeline_{k}" for k in keys}
    assert all(v >= 0 for v in times.values()), times
    assert info["n_pages"] == 600 and info["n_pairs"] > 0, info


def test_bench_scratch_dir_removed_at_exit(tmp_path):
    """bench.py's per-process model scratch dir, with what was saved
    into it, is gone once the interpreter exits (no Spark)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import bench; d = bench._run_scratch_dir(); "
        "open(d + '/artifact', 'w').close(); print(d)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True,
        text=True, check=True, env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    d = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(d).startswith("el_bench_models_")
    assert os.path.dirname(d) == str(tmp_path)
    assert not os.path.exists(d)


def test_pairwise_f1(spark, e2e):
    out, labeled = e2e
    uc = primary_clusters(out["clusters"], out["mentions"])
    res = pairwise_scores(labeled, uc)
    assert res["f1"] >= 0.99, res
    assert res["precision"] >= 0.99, res
    assert res["recall"] >= 0.99, res


def test_scored_pairs_symmetric_ids(spark, e2e):
    out, _ = e2e
    bad = out["scored_pairs"].where("a_id >= b_id").count()
    assert bad == 0


def test_f1_gate_holds_with_binding_fit_sample_cap(spark):
    """At 100 TB the TF-IDF/LDA fit runs on a hash-sample, so the
    gate must hold when the cap BINDS (here: 300 of ~900 mentions).
    IDF/topic structure are corpus statistics — a uniform sample
    preserves them; this pins that claim."""
    pages = gen_web_pages(spark, N_PAGES).localCheckpoint()
    cfg = PipelineConfig(use_lsh=True, use_topics=True, fit_sample_max=300)
    out = run_pipeline(spark, pages, cfg)
    labeled = gen_labeled_pairs(spark, N_PAGES)
    uc = primary_clusters(out["clusters"], out["mentions"])
    res = pairwise_scores(labeled, uc)
    assert res["f1"] >= 0.99, res


def test_pipeline_survives_empty_corpus(spark):
    """Degenerate input (nothing passes the lang gate) must produce
    empty-but-well-formed stage tables, not an ml-fit crash."""
    from pyspark.sql import functions as F

    pages = gen_web_pages(spark, 50).where(F.col("lang") == "nonexistent")
    out = run_pipeline(spark, pages, PipelineConfig())
    assert out["clusters"].count() == 0
    assert out["scored_pairs"].count() == 0
    assert "cluster_id" in out["clusters"].columns


def test_blocking_reduction_ratio_exact(spark):
    from el.evaluate import blocking_reduction_ratio

    # blocks of size 3, 2, 1 -> cand = 3 + 1 + 0 = 4; N=6 -> all = 15
    rows = [(i, b) for i, b in enumerate(["x", "x", "x", "y", "y", "z"])]
    df = spark.createDataFrame(rows, "id long, blk string")
    r = blocking_reduction_ratio(df, "blk").collect()[0]
    assert (r.n_rows, r.cand_pairs, r.all_pairs) == (6, 4, 15)
    assert abs(r.reduction_ratio - (1.0 - 4.0 / 15.0)) < 1e-12


def test_hygiene_stage_gates(spark):
    """Crawl-hygiene ingest gate: canonical-url dedup collapses
    tracking-param/www/port variants (latest warc_ts wins), repetition
    filters drop spam; defaults leave the corpus untouched."""
    import datetime as dt

    from el.pipeline import PipelineConfig, hygiene_stage

    ts = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # three crawls of ONE canonical page (tracking noise + www +
        # default port), distinct raw urls; latest is u3
        ("http://example.com/a?utm_source=x", ts(1), b"h1",
         "alpha beta gamma delta epsilon", "en"),
        ("https://www.example.com/a", ts(2), b"h2",
         "alpha beta gamma delta epsilon", "en"),
        ("http://example.com:80/a", ts(3), b"h3",
         "alpha beta gamma delta epsilon", "en"),
        # clean page
        ("http://other.org/b", ts(1), b"h4",
         "the quick brown fox jumps over a lazy dog", "en"),
        # spam: one word repeated (distinct ratio 0.125, dup-2gram 6/7)
        ("http://spam.net/c", ts(1), b"h5",
         "buy buy buy buy buy buy buy now", "en"),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    # defaults: pass-through
    assert hygiene_stage(pages, PipelineConfig()).count() == 5

    cfg = PipelineConfig(
        canonical_url_dedup=True,
        min_distinct_word_ratio=0.3,
        max_dup_2gram=0.5,
    )
    kept = hygiene_stage(pages, cfg).collect()
    urls = {r.url for r in kept}
    assert urls == {"http://example.com:80/a", "http://other.org/b"}
    # latest-wins on the canonical key: the ts(3) crawl survived
    assert {r.html for r in kept} == {b"h3", b"h4"}


def test_hygiene_rarity_gate(spark, tmp_path):
    """lm1 rarity gate in the hygiene stage: off by
    default (pass-through, bit-identical rows), tolerant threshold
    keeps everything, and against a persisted fit a planted gibberish
    page — whose bigrams the fit has never seen — is dropped while
    fit-corpus boilerplate passes."""
    import datetime as dt

    from el.pipeline import PipelineConfig, hygiene_stage
    from el.textops import BigramCountsModel

    ts = dt.datetime(2026, 1, 1)
    mk = lambda u, txt: (u, ts, b"h", txt, "en")  # noqa: E731
    clean = "the quick brown fox jumps over the lazy dog"
    rows = [
        mk("http://a.org/1", clean),
        mk("http://a.org/2", clean),
        mk("http://a.org/3", "zxqv wmfr ktjp blnd qqzz vvkk"),  # gibberish
        mk("http://a.org/4", None),  # null text: gate must keep it
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    # default OFF: pass-through
    assert hygiene_stage(pages, PipelineConfig()).count() == 4
    # self-fit with a tolerant threshold: everything passes (the
    # gibberish doc's bigrams are hapax -> rare_frac 1.0; 1.0 <= 1.0)
    assert hygiene_stage(
        pages, PipelineConfig(max_rare_bigram_frac=1.0)
    ).count() == 4
    # production path: persisted fit on a clean corpus; the gibberish
    # page is 100% fit-unseen -> dropped, clean + null-text kept
    fit = spark.createDataFrame(
        [(i, clean) for i in range(5)], "doc_id long, text string"
    )
    path = str(tmp_path / "lm1_fit")
    BigramCountsModel.fit(fit).save(path)
    kept = hygiene_stage(
        pages,
        PipelineConfig(max_rare_bigram_frac=0.5, bigram_counts_path=path),
    )
    assert {r.url for r in kept.collect()} == {
        "http://a.org/1", "http://a.org/2", "http://a.org/4"
    }


def test_hygiene_blocklist_gate(spark):
    """tx13 host-blocklist gate in the hygiene stage (r5): off by
    default (pass-through), and with a list entry the exact host,
    every subdomain, and the www/port/tracking variants all drop
    while unrelated hosts — including relative-url rows with no
    authority at all — are kept."""
    import datetime as dt

    from el.pipeline import PipelineConfig, hygiene_stage

    ts = dt.datetime(2026, 1, 1)
    mk = lambda u: (u, ts, b"h", "some words here", "en")  # noqa: E731
    pages = spark.createDataFrame(
        [
            mk("http://bad.example/x"),
            mk("https://www.bad.example:443/y?utm_source=z"),
            mk("http://cdn.ads.bad.example/z"),  # deep subdomain
            mk("http://notbad.example/ok"),  # suffix of name, NOT of domain
            mk("http://good.org/ok"),
            mk("/relative/no-authority"),  # null host: kept
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    assert hygiene_stage(pages, PipelineConfig()).count() == 6
    kept = hygiene_stage(
        pages, PipelineConfig(blocked_hosts=("bad.example",))
    )
    assert {r.url for r in kept.collect()} == {
        "http://notbad.example/ok",
        "http://good.org/ok",
        "/relative/no-authority",
    }


def test_hygiene_stage_short_docs_survive_filters(spark):
    """0/1-token pages must not crash the inline gram expressions
    (slice length is clamped) and are kept by the dup-2gram filter
    (no 2-grams -> repetition 0)."""
    import datetime as dt

    from el.pipeline import PipelineConfig, hygiene_stage

    rows = [
        ("u1", dt.datetime(2026, 1, 1), b"x", "", "en"),
        ("u2", dt.datetime(2026, 1, 1), b"y", "word", "en"),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = PipelineConfig(max_dup_2gram=0.2)
    assert hygiene_stage(pages, cfg).count() == 2


def test_hygiene_c4_gate(spark):
    """tx14 C4 line-clean gate in the hygiene stage (r5): off by
    default (pass-through, text untouched), and when on each page's
    text is rewritten to its prose lines while pages failing the page
    rules (too few sentences, lorem ipsum, curly brace, null text)
    drop before the dedup window."""
    import datetime as dt

    from el.pipeline import PipelineConfig, hygiene_stage

    ts = dt.datetime(2026, 1, 1)
    mk = lambda u, txt: (u, ts, b"h", txt, "en")  # noqa: E731
    prose = (
        "one two three four five six.\n"
        "seven eight nine ten eleven twelve!\n"
        "thirteen fourteen fifteen sixteen seventeen eighteen."
    )
    pages = spark.createDataFrame(
        [
            mk("http://a.org/1", prose + "\nclick here"),  # junk line cut
            mk("http://a.org/2", prose + "\nwindow.cfg = { x: 1 };"),
            mk("http://a.org/3", "too short a page to keep today."),
            mk("http://a.org/4", None),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    # default OFF: pass-through, including the null-text row
    assert hygiene_stage(pages, PipelineConfig()).count() == 4
    kept = hygiene_stage(pages, PipelineConfig(c4_line_clean=True)).collect()
    assert {r.url for r in kept} == {"http://a.org/1"}
    assert kept[0].text == prose  # junk line removed, prose trimmed-joined
    # threshold knob: one good sentence is enough when relaxed
    relaxed = hygiene_stage(
        pages, PipelineConfig(c4_line_clean=True, c4_min_sentences=1)
    )
    assert {r.url for r in relaxed.collect()} == {
        "http://a.org/1", "http://a.org/3"
    }
