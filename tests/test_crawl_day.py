"""The "production crawl day" loop, end to end: a
directory of WARC files per crawl hour -> warc_to_pages -> crawl-
hygiene ingest gate -> base run + two incremental absorbs -> delta
compaction -> metrics, with the final catalog's clusters equal to the
equivalent single batch run and the er2/er5 cluster metrics agreeing
at exactly 1.0. Every piece is tested pairwise elsewhere; this test
pins the composed product story."""

from __future__ import annotations

from pyspark.sql import functions as F

from el.catalog import HadoopParquetCatalog
from el.evaluate import clustering_agreement, clustering_bcubed
from el.fixtures import gen_web_pages
from el.incremental import (
    _batch_markers,
    _delta_names,
    _read_with_deltas,
    compact_deltas,
    incremental_update,
)
from el.pipeline import PipelineConfig
from el.runner import RunConfig, run_checkpointed
from el.textops import canonicalize_url
from el.warc import read_warc, warc_to_pages, write_warc

N_PAGES = 360


def test_production_crawl_day_e2e(spark, tmp_path_factory):
    pages = gen_web_pages(spark, N_PAGES).localCheckpoint()

    # three "crawl hours" as separate WARC directories, split by the
    # CANONICAL url hash: the hygiene gate dedups on the canonical
    # key, so batches must be canonical-key-disjoint for incremental
    # ingest (url-level anti-join) and batch dedup to agree — exactly
    # the invariant a production crawl partitioner maintains
    warc_root = tmp_path_factory.mktemp("crawlday")
    h = F.pmod(F.xxhash64(canonicalize_url(F.col("url"))), F.lit(3))
    hour_dirs = []
    for k in range(3):
        out = str(warc_root / f"hour{k:02d}")
        part = pages.where(h == k)
        assert part.count() > 0
        write_warc(part, out, num_files=2).collect()
        hour_dirs.append(out)

    # WARC carries no lang column; warc_to_pages re-derives it with the
    # stopword heuristic, and the fixture corpus is pseudo-words -> every
    # page is 'und' by design (tests/test_warc.py pins this). Gate on
    # 'und' so the lang filter stays ACTIVE while admitting the crawl.
    cfg = PipelineConfig(
        langs=("und",),
        use_lsh=True,
        use_topics=False,
        canonical_url_dedup=True,
        min_distinct_word_ratio=0.05,
        max_dup_2gram=0.9,
    )
    mdir = str(tmp_path_factory.mktemp("crawl_models"))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("crawl_cat")))
    rc = RunConfig(
        run_id="day0", n_score_chunks=2, pipeline=cfg, model_dir=mdir
    )

    batches = [
        warc_to_pages(read_warc(spark, d)).localCheckpoint(eager=True)
        for d in hour_dirs
    ]

    # hour 0 = base run (fits + persists the models); hours 1-2 absorb
    run_checkpointed(spark, batches[0], cat, rc, resume=False)
    out1 = incremental_update(spark, batches[1], cat, rc)
    out2 = incremental_update(spark, batches[2], cat, rc)
    assert out1["report"]["new_mentions"] > 0
    assert out2["report"]["new_mentions"] > 0
    inc_clusters = sorted(
        map(
            tuple,
            out2["clusters"].select("mention_id", "cluster_id").collect(),
        )
    )

    # end-of-day compaction folds every delta; views are preserved
    men_before = sorted(
        r[0]
        for r in _read_with_deltas(spark, cat, "mentions")
        .select("mention_id")
        .collect()
    )
    for base in ("mentions", "mentions_vec", "scored_pairs"):
        compact_deltas(spark, cat, base, run_id="day0")
        assert _delta_names(cat, base) == []
    assert [m["batch"] for m in _batch_markers(cat)] == [0, 1]
    men_after = sorted(
        r[0]
        for r in cat.read(spark, "mentions").select("mention_id").collect()
    )
    assert men_after == men_before

    # equivalent single batch run over the whole day (same models)
    full_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("crawl_full")))
    rc_full = RunConfig(
        run_id="dayfull", n_score_chunks=2, pipeline=cfg, model_dir=mdir
    )
    all_pages = batches[0]
    for b in batches[1:]:
        all_pages = all_pages.unionByName(b)
    full = run_checkpointed(spark, all_pages, full_cat, rc_full, resume=False)
    full_clusters = sorted(
        map(
            tuple,
            full["clusters"].select("mention_id", "cluster_id").collect(),
        )
    )
    assert inc_clusters == full_clusters
    assert len(inc_clusters) == len(men_after)

    # the engine's own cluster metrics agree: er2 (Rand/ARI) and er5
    # (B-cubed) between the incremental and batch clusterings are 1.0
    a = out2["clusters"].select("mention_id", "cluster_id")
    b = full["clusters"].select("mention_id", "cluster_id")
    ag = clustering_agreement(a, b, id_col="mention_id").collect()[0]
    assert ag.ri == 1.0 and ag.ari == 1.0
    bc = clustering_bcubed(a, b, id_col="mention_id").collect()[0]
    assert bc.bcubed_p == 1.0 and bc.bcubed_r == 1.0 and bc.bcubed_f1 == 1.0

    # metrics sink saw every stage of the day; after compaction the
    # scored chunks' manifests are folded into scored_pairs_all
    stages = {
        r.stage
        for r in cat.metrics(spark).select("stage").distinct().collect()
    }
    assert {
        "mentions",
        "block_keys",
        "candidate_pairs",
        "scored_pairs_all",
        "edges",
        "clusters",
    } <= stages


def test_crawl_day_forget_epilogue(spark, tmp_path_factory):
    """The GDPR epilogue of the production story: after a day of
    absorbs, forget a slice of pages and the catalog must answer
    exactly like a batch run that never crawled them. The slice is
    cut at the CANONICAL-url group grain: the hygiene gate's
    canonical dedup picks one winner per group, so forgetting a
    winner's url must be compared against a run that saw none of the
    group (dropping only the winner would let a sibling variant be
    elected instead — a different corpus, not the forget semantics)."""
    from el.incremental import forget_urls

    pages = gen_web_pages(spark, 240).localCheckpoint()
    cfg = PipelineConfig(
        use_lsh=True,
        use_topics=False,
        canonical_url_dedup=True,
        cap_k=10_000,
    )
    mdir = str(tmp_path_factory.mktemp("fg_models"))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fg_cat")))
    rc = RunConfig(run_id="fgday", n_score_chunks=2, pipeline=cfg,
                   model_dir=mdir)
    run_checkpointed(spark, pages, cat, rc, resume=False)

    # slice: committed mention urls with hash%5 == 0 (dedup winners)
    forget_set = (
        _read_with_deltas(spark, cat, "mentions")
        .select("url")
        .distinct()
        .where(F.pmod(F.xxhash64("url"), F.lit(5)) == 0)
        .localCheckpoint(eager=True)
    )
    assert forget_set.count() > 0
    rep = forget_urls(spark, cat, forget_set, rc)
    assert rep["forgotten_mentions"] > 0
    left = (
        _read_with_deltas(spark, cat, "mentions")
        .join(forget_set, on="url", how="left_semi")
        .count()
    )
    assert left == 0

    # reference: batch run over the day MINUS the forgotten canonical
    # GROUPS (winner + all its variants), same persisted models
    ck = canonicalize_url(F.col("url"))
    gone_keys = (
        pages.join(F.broadcast(forget_set), on="url", how="left_semi")
        .select(ck.alias("_ck"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    kept = pages.withColumn("_ck", ck).join(
        F.broadcast(gone_keys), on="_ck", how="left_anti"
    ).drop("_ck")
    ref_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fg_ref")))
    rc_ref = RunConfig(run_id="fgref", n_score_chunks=2, pipeline=cfg,
                       model_dir=mdir)
    ref = run_checkpointed(spark, kept, ref_cat, rc_ref, resume=False)

    got = sorted(
        map(
            tuple,
            cat.read(spark, "clusters")
            .select("mention_id", "cluster_id")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            ref["clusters"].select("mention_id", "cluster_id").collect(),
        )
    )
    assert got == want
