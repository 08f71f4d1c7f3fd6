"""Incremental ER: absorbing a new crawl batch scores only the delta,
and (cap not binding) yields exactly the clusters a full run over the
combined corpus produces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from el.catalog import HadoopParquetCatalog
from el.fixtures import gen_web_pages
from el.incremental import incremental_update
from el.pipeline import PipelineConfig
from el.runner import RunConfig, run_checkpointed

N_ALL = 500
N_FIRST = 350


@pytest.fixture(scope="module")
def rc():
    # generous cap so capping never binds (the equivalence precondition)
    return RunConfig(
        run_id="inc",
        n_score_chunks=2,
        pipeline=PipelineConfig(use_lsh=True, use_topics=False, cap_k=10_000),
    )


def test_incremental_equals_full(spark, tmp_path_factory, rc):
    all_pages = gen_web_pages(spark, N_ALL).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(10)) < 7
    batch1 = all_pages.where(split)
    batch2 = all_pages.where(~split)
    assert batch2.count() > 0

    # full run over the combined corpus (reference result); models are
    # fitted on batch1 ONLY in both paths (shared model_dir)
    mdir = str(tmp_path_factory.mktemp("models"))
    rc_full = RunConfig(
        run_id="full", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    inc_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("inc")))
    rc_inc = RunConfig(
        run_id="inc", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    # fit models on batch1 via the incremental base run FIRST
    base = run_checkpointed(spark, batch1, inc_cat, rc_inc, resume=False)

    full_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("full")))
    full = run_checkpointed(
        spark, batch1.unionByName(batch2), full_cat, rc_full, resume=False
    )

    # absorb batch2 incrementally
    out = incremental_update(spark, batch2, inc_cat, rc_inc)
    rep = out["report"]
    assert rep["new_mentions"] > 0
    # the delta is strictly smaller than the full pair set
    assert rep["delta_pairs_scored"] < rep["total_pairs"]

    # cluster PARTITIONS must be identical (cluster ids are min member
    # id, so they are directly comparable)
    inc_rows = sorted(
        map(tuple, out["clusters"].select("mention_id", "cluster_id").collect())
    )
    full_rows = sorted(
        map(tuple,
            full["clusters"].select("mention_id", "cluster_id").collect())
    )
    assert inc_rows == full_rows


def test_incremental_rerun_scores_nothing_new(spark, tmp_path_factory, rc):
    pages = gen_web_pages(spark, 300).localCheckpoint()
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("re")))
    run_checkpointed(spark, pages, cat, rc, resume=False)
    # feeding the SAME batch again: no new urls -> no new mentions,
    # no delta pairs
    out = incremental_update(spark, pages, cat, rc)
    assert out["report"]["new_mentions"] == 0
    assert out["report"]["delta_pairs_scored"] == 0


def test_incremental_requires_persisted_models(spark, tmp_path_factory, rc):
    """A delta must never refit (§4.4): missing model artifacts are a
    hard error, not a silent refit on the delta corpus."""
    pages = gen_web_pages(spark, 120).localCheckpoint()
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("noart")))
    run_checkpointed(spark, pages, cat, rc, resume=False)
    fresh_rc = RunConfig(
        run_id="other_run", n_score_chunks=2, pipeline=rc.pipeline
    )  # default model dir is keyed by run_id -> artifacts absent
    with pytest.raises(FileNotFoundError, match="persisted TF-IDF"):
        incremental_update(spark, pages, cat, fresh_rc)


def test_incremental_join_input_scales_with_delta(spark, tmp_path_factory, rc):
    """The pair self-join's input (touched blocks only) must track the
    DELTA size, not the corpus size — the r1 version re-joined the
    full combined key table every batch."""
    all_pages = gen_web_pages(spark, 300).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(30)) < 1  # ~3% delta
    big, small = all_pages.where(~split), all_pages.where(split)
    assert 0 < small.count() < 25

    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("scale")))
    run_checkpointed(spark, big, cat, rc, resume=False)
    rep = incremental_update(spark, small, cat, rc)["report"]
    assert rep["touched_key_rows"] < 0.5 * rep["combined_key_rows"], rep


def test_incremental_commits_are_append_only(spark, tmp_path_factory, rc):
    """Absorbing a batch must NOT rewrite the corpus-sized tables:
    the base mentions/mentions_vec/block_keys commits stay untouched
    (same manifest) and each batch adds exactly one delta table whose
    rows == the batch's new mentions — commit I/O scales with the
    delta."""
    all_pages = gen_web_pages(spark, 300).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(3))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("ao")))
    run_checkpointed(spark, all_pages.where(split == 0), cat, rc, resume=False)
    base_manifest = cat.manifest("mentions")
    base_keys = cat.manifest("block_keys")

    r1 = incremental_update(spark, all_pages.where(split == 1), cat, rc)
    r2 = incremental_update(spark, all_pages.where(split == 2), cat, rc)

    assert cat.manifest("mentions") == base_manifest, "base was rewritten"
    assert cat.manifest("block_keys") == base_keys, "keys were rewritten"
    for base in ("mentions", "mentions_vec", "block_keys"):
        assert cat.exists(f"{base}_delta_0000")
        assert cat.exists(f"{base}_delta_0001")
    assert cat.manifest("mentions_delta_0000")["total_rows"] == r1["report"][
        "new_mentions"
    ]
    assert cat.manifest("mentions_delta_0001")["total_rows"] == r2["report"][
        "new_mentions"
    ]
    # merge-on-read view covers the full corpus exactly once
    from el.incremental import _read_with_deltas

    total = _read_with_deltas(spark, cat, "mentions")
    assert total.count() == total.select("mention_id").distinct().count()
    assert total.count() == r2["report"]["total_mentions"]


def test_ingest_anti_join_never_shuffles_the_corpus(spark):
    """The ingest filter must not shuffle the corpus-sized mention
    table per absorb: both joins build on broadcast (delta-sized)
    sides, so the only exchanges in the plan are the two delta-sized
    distincts. Auto-broadcast is disabled to prove the shape comes
    from the explicit hints, not from the fixture being small."""
    from el.extract import extract_mentions
    from el.fixtures import gen_web_pages
    from el.incremental import ingest_new_mentions
    from el.pipeline import gated_pages, mentions_stage

    pages = gen_web_pages(spark, 200).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(4)) < 1
    cfg = PipelineConfig(use_lsh=False, use_topics=False)
    old = mentions_stage(pages.where(~split), cfg).localCheckpoint()
    delta = mentions_stage(pages.where(split), cfg).localCheckpoint()

    def plan_of(df):
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            return df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    df = ingest_new_mentions(delta, old)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2, plan  # the two tiny distincts only

    # the absorb filters gated PAGES (every page here, so the old ones
    # are dropped) probed with the raw pages' urls, then extracts
    # once: the single Python node sits above the anti-join, the gate's
    # dedup window runs once, and the rows are the fresh pages' mentions
    gated = gated_pages(pages, cfg)
    fresh = extract_mentions(ingest_new_mentions(gated, old, urls=pages))
    plan = plan_of(fresh)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("MapInPandas") == 1, plan
    assert plan.index("MapInPandas") < plan.index("LeftAnti"), plan
    assert plan.count("Window [") == plan_of(gated).count("Window [") == 1
    assert sorted(map(tuple, fresh.collect())) == sorted(
        map(tuple, delta.collect())
    )

    # and it computes exactly the anti-join it replaces
    naive = delta.join(
        old.select("url").distinct(), on="url", how="left_anti"
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_ingest_gates_once_under_a_canonical_url_tie(spark):
    """Every page has a twin with the same canonical url, warc_ts and
    html, so the gate's canonical-url window keeps either one. The
    absorb's ingest filter must evaluate the gate once, however many
    tables the mentions view unions: two evaluations may keep
    different twins, and a url-set subtree that kept the other twin
    would let an ingested url through. A replay of the batch then
    ingests no url the corpus already holds."""
    from el.extract import extract_mentions
    from el.incremental import ingest_new_mentions
    from el.pipeline import gated_pages, mentions_stage

    base = gen_web_pages(spark, 60)
    pages = base.unionByName(
        base.withColumn("url", F.concat("url", F.lit("#twin")))
    ).localCheckpoint()
    cfg = PipelineConfig(
        use_lsh=False, use_topics=False, canonical_url_dedup=True
    )
    corpus = mentions_stage(pages, cfg)
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    old = corpus.where(part == 0).localCheckpoint()
    for i in (1, 2):  # a base table plus two deltas
        old = old.unionByName(corpus.where(part == i).localCheckpoint())

    gated = gated_pages(pages, cfg)
    fresh = extract_mentions(ingest_new_mentions(gated, old, urls=pages))
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    gate = gated._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window [") == gate.count("Window [") == 2, plan
    assert fresh.join(old, on="url", how="left_semi").count() == 0


def test_incremental_recaps_hot_blocks(spark, tmp_path_factory):
    """The cap stays a PAIR-GENERATION bound across absorbs, so hot
    blocks cannot grow without bound: the committed block_keys
    table retains FULL membership (the r5 recall property — a member
    dropped by one run's cap must stay recoverable), while the
    pair-generation input re-capped from it never exceeds cap_k per
    block, so no absorb's self-join can go quadratic."""
    from pyspark.sql import functions as F2

    from el.incremental import _read_with_deltas
    from el.pipeline import skew_capped_keys

    cap_rc = RunConfig(
        run_id="cap",
        n_score_chunks=2,
        pipeline=PipelineConfig(use_lsh=False, use_topics=False, cap_k=8),
    )
    all_pages = gen_web_pages(spark, 240).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(2)) < 1
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("cap")))
    run_checkpointed(spark, all_pages.where(split), cat, cap_rc, resume=False)
    incremental_update(spark, all_pages.where(~split), cat, cap_rc)
    committed = _read_with_deltas(spark, cat, "block_keys")
    sizes = committed.groupBy("strategy", "block_key").agg(
        F2.count("*").alias("n")
    )
    worst_raw = sizes.agg(F2.max("n")).collect()[0][0]
    # full membership is committed: with cap_k=8 on this corpus the
    # hottest block MUST exceed the cap in storage...
    assert worst_raw > cap_rc.pipeline.cap_k, (
        f"committed table looks capped (max block {worst_raw}) — the "
        "r5 recall property (raw keys committed) is gone"
    )
    # ...while the pair-generation input derived from it is bounded
    capped, _ = skew_capped_keys(committed, cap_rc.pipeline)
    worst = (
        capped.groupBy("strategy", "block_key")
        .agg(F2.count("*").alias("n"))
        .agg(F2.max("n"))
        .collect()[0][0]
    )
    assert worst <= cap_rc.pipeline.cap_k, f"pair-gen block grew to {worst}"


@pytest.mark.parametrize("block_skew", ["cap", "salt"])
def test_incremental_superset_of_batch_under_binding_cap(
    spark, tmp_path_factory, block_skew
):
    """r5 equivalence guarantee when the cap BINDS: the incremental
    pair set must CONTAIN every pair the batch run generates — the
    committed raw keys let a touched block re-cap over its full
    membership, picking exactly the batch run's capped member set.
    (Before r5 the committed table was capped, so members dropped by
    the base run were lost to later re-caps and batch pairs went
    missing; this test fails on that design.) Matched batch pairs must
    also land in one incremental cluster each. Under "salt" the hot
    blocks split into sub-blocks instead, dropping no member, and the
    touched-blocks restriction commutes with it the same way."""
    import os

    from el.incremental import _read_with_deltas
    from el.scoring import matched_edges

    cap_rc = RunConfig(
        run_id="cap2",
        n_score_chunks=2,
        pipeline=PipelineConfig(
            use_lsh=False, use_topics=False, cap_k=8, block_skew=block_skew
        ),
    )
    all_pages = gen_web_pages(spark, 240).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(2)) < 1

    inc_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("inc_sup")))
    run_checkpointed(spark, all_pages.where(split), inc_cat, cap_rc,
                     resume=False)
    out = incremental_update(spark, all_pages.where(~split), inc_cat, cap_rc)

    full_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("full_sup")))
    rc_full = RunConfig(
        run_id="capfull", n_score_chunks=2, pipeline=cap_rc.pipeline,
        model_dir=os.path.join(inc_cat.root, "_models", "cap2"),
    )
    full = run_checkpointed(spark, all_pages, full_cat, rc_full, resume=False)

    inc_pairs = {
        (r.a_id, r.b_id)
        for r in _read_with_deltas(spark, inc_cat, "scored_pairs")
        .select("a_id", "b_id").collect()
    }
    batch_pairs = {
        (r.a_id, r.b_id)
        for r in full["scored_pairs"].select("a_id", "b_id").collect()
    }
    # the cap must actually bind for this test to mean anything
    raw_sizes = (
        _read_with_deltas(spark, inc_cat, "block_keys")
        .groupBy("strategy", "block_key").count()
    )
    assert raw_sizes.where(F.col("count") > 8).count() > 0
    if block_skew == "salt":
        from el.pipeline import skew_capped_keys

        view = _read_with_deltas(spark, inc_cat, "block_keys")
        salted, stats = skew_capped_keys(view, cap_rc.pipeline)
        assert stats.agg(F.sum("n_dropped")).collect()[0][0] == 0
        assert salted.count() == view.count()
    missing = batch_pairs - inc_pairs
    assert not missing, (
        f"incremental lost {len(missing)} batch pairs under a binding "
        f"cap (e.g. {sorted(missing)[:5]})"
    )
    # matched batch pairs are merged in the incremental clustering
    cl = {
        r.mention_id: r.cluster_id
        for r in out["clusters"].select("mention_id", "cluster_id").collect()
    }
    batch_edges = [
        (r.src, r.dst)
        for r in matched_edges(full["scored_pairs"]).collect()
    ]
    assert batch_edges
    for s, d in batch_edges:
        assert cl[s] == cl[d], f"batch match ({s},{d}) split across clusters"


def test_incremental_crash_between_delta_writes_heals(
    spark, tmp_path_factory, rc, monkeypatch
):
    """A crash between a batch's two delta writes must not
    leave a permanent mentions/mentions_vec gap. The batch marker is
    written only after every table commit, so the crashed batch is
    invisible to the rerun, which recomputes it; the healed state
    matches a full run over the combined corpus."""
    all_pages = gen_web_pages(spark, N_ALL).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(10)) < 7
    batch1, batch2 = all_pages.where(split), all_pages.where(~split)

    mdir = str(tmp_path_factory.mktemp("models_cr"))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("crash")))
    rc_inc = RunConfig(
        run_id="inc", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    run_checkpointed(spark, batch1, cat, rc_inc, resume=False)

    real_write = cat.write

    def dying_write(df, table, **kw):
        # mentions delta committed, then die on the vec delta
        if table.startswith("mentions_vec_delta_"):
            raise RuntimeError("simulated crash between delta writes")
        return real_write(df, table, **kw)

    monkeypatch.setattr(cat, "write", dying_write)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_update(spark, batch2, cat, rc_inc)
    monkeypatch.undo()

    # crashed state: orphan mentions delta exists, no marker -> invisible
    from el.incremental import _batch_markers, _delta_names, _read_with_deltas

    assert cat.exists("mentions_delta_0000")
    assert not cat.exists("mentions_vec_delta_0000")
    assert not _batch_markers(cat)
    assert _delta_names(cat, "mentions") == []

    # rerun absorbs the batch from scratch (urls NOT seen as ingested)
    out = incremental_update(spark, batch2, cat, rc_inc)
    assert out["report"]["new_mentions"] > 0
    markers = _batch_markers(cat)
    assert [m["batch"] for m in markers] == [0]

    # healed result == full run over the combined corpus
    full_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("crash_full")))
    rc_full = RunConfig(
        run_id="full", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    full = run_checkpointed(
        spark, batch1.unionByName(batch2), full_cat, rc_full, resume=False
    )
    inc_rows = sorted(
        map(tuple, out["clusters"].select("mention_id", "cluster_id").collect())
    )
    full_rows = sorted(
        map(tuple,
            full["clusters"].select("mention_id", "cluster_id").collect())
    )
    assert inc_rows == full_rows
    # merged view has each mention exactly once (no orphan double-count)
    men = _read_with_deltas(spark, cat, "mentions")
    assert men.count() == men.select("mention_id").distinct().count()


def test_batch_markers_sort_numerically(tmp_path):
    """Marker names sort "_batch_10000" before "_batch_9999" as
    strings; batch order and the next batch index are numeric, or
    batch 10000 would be reused and its committed deltas overwritten."""
    from el.incremental import (
        _batch_markers,
        _commit_batch_marker,
        _next_batch,
    )

    cat = HadoopParquetCatalog(str(tmp_path))
    for batch in (9999, 10000):
        _commit_batch_marker(cat, batch, "r", ["mentions"])
    assert [m["batch"] for m in _batch_markers(cat)] == [9999, 10000]
    assert _next_batch(cat) == 10001


def test_replayed_batch_commits_nothing(spark, tmp_path_factory):
    """Absorbing the same batch twice: the replay finds no new
    mentions, commits only its empty mentions delta, writes no marker
    and leaves every view's tables and clusters as they were (same
    manifest digests, same clusters version). The empty delta stays
    invisible; the next absorb of fresh pages takes the same batch
    index, overwrites it and commits normally. Topics are on."""
    from el.incremental import (
        _batch_markers,
        _delta_names,
        _delta_table,
        _view_tables,
    )

    rc = RunConfig(
        run_id="replay",
        n_score_chunks=2,
        pipeline=PipelineConfig(use_lsh=True, use_topics=True, cap_k=10_000),
    )
    pages = gen_web_pages(spark, 240).localCheckpoint()
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("replay")))
    run_checkpointed(spark, pages.where(part == 0), cat, rc, resume=False)
    incremental_update(spark, pages.where(part == 1), cat, rc)
    bases = ("mentions", "mentions_vec", "block_keys", "scored_pairs")

    def digests():
        tables = ["clusters"]
        for base in bases:
            tables += sum(_view_tables(cat, base), [])
        return {t: cat.manifest(t)["digest"] for t in tables}

    before = digests()
    version = cat.manifest("clusters")["version"]
    rep = incremental_update(spark, pages.where(part == 1), cat, rc)
    assert rep["report"]["new_mentions"] == 0
    assert [m["batch"] for m in _batch_markers(cat)] == [0]
    assert cat.exists("mentions_delta_0001")
    # the replay stops after its empty mentions commit: no further
    # delta, and no clusters rewrite (which would archive a snapshot)
    assert not cat.exists("mentions_vec_delta_0001")
    assert cat.manifest("clusters")["version"] == version
    assert digests() == before

    rep = incremental_update(spark, pages.where(part == 2), cat, rc)
    n_new = rep["report"]["new_mentions"]
    assert n_new > 0
    assert [m["batch"] for m in _batch_markers(cat)] == [0, 1]
    for base in bases:
        assert _delta_names(cat, base)[-1] == _delta_table(base, 1)
    assert cat.manifest("mentions_delta_0001")["total_rows"] == n_new


def test_scored_pair_view_without_scored_tables_raises(spark, tmp_path):
    """A catalog with neither ``scored_pairs_all`` nor any score chunk
    has no scored-pair view; the error names the missing base."""
    from el.incremental import _read_with_deltas

    cat = HadoopParquetCatalog(str(tmp_path / "cat"))
    cat.write(spark.range(3).withColumnRenamed("id", "mention_id"),
              "mentions", run_id="r1")
    with pytest.raises(FileNotFoundError, match="scored_pairs"):
        _read_with_deltas(spark, cat, "scored_pairs")


def test_crash_before_marker_hides_block_key_delta(
    spark, tmp_path_factory, rc, monkeypatch
):
    """A crash on the last table write before the batch marker (the
    clusters rewrite) leaves the batch's block_keys delta on disk but
    invisible. The rerun commits every key once: the merged key view
    equals the raw key table of one batch run over both batches."""
    from el.incremental import _batch_markers, _delta_names, _read_with_deltas

    all_pages = gen_web_pages(spark, 300).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(10)) < 7
    batch1, batch2 = all_pages.where(split), all_pages.where(~split)

    mdir = str(tmp_path_factory.mktemp("models_keys"))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("crash_keys")))
    rc_inc = RunConfig(
        run_id="inc", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    run_checkpointed(spark, batch1, cat, rc_inc, resume=False)

    real_write = cat.write

    def dying_write(df, table, **kw):
        if table == "clusters":
            raise RuntimeError("simulated crash before the batch marker")
        return real_write(df, table, **kw)

    monkeypatch.setattr(cat, "write", dying_write)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_update(spark, batch2, cat, rc_inc)
    monkeypatch.undo()

    assert cat.exists("block_keys_delta_0000")
    assert not _batch_markers(cat)
    assert _delta_names(cat, "block_keys") == []

    incremental_update(spark, batch2, cat, rc_inc)
    assert _delta_names(cat, "block_keys") == ["block_keys_delta_0000"]
    cols = ["mention_id", "strategy", "block_key"]
    merged = [
        tuple(r)
        for r in _read_with_deltas(spark, cat, "block_keys")
        .select(*cols)
        .collect()
    ]
    assert len(merged) == len(set(merged))

    full_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("keys_full")))
    rc_full = RunConfig(
        run_id="full", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    full = run_checkpointed(
        spark, batch1.unionByName(batch2), full_cat, rc_full, resume=False
    )
    want = sorted(tuple(r) for r in full["block_keys"].select(*cols).collect())
    assert sorted(merged) == want


def _small_base(spark, tmp_path_factory, rc, name):
    """Base run over 2/3 of a 160-page corpus; returns (catalog, the
    remaining pages to absorb, 1 url in 10 to forget)."""
    pages = gen_web_pages(spark, 160).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(3)) == 0
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp(name)))
    run_checkpointed(spark, pages.where(~split), cat, rc, resume=False)
    urls = pages.where(F.pmod(F.xxhash64("url"), F.lit(10)) == 0).select("url")
    return cat, pages.where(split), urls


def test_absorb_clusters_frame_survives_a_forget(spark, tmp_path_factory, rc):
    """The clusters frame an absorb returns keeps reading the version
    that absorb committed after a forget commits a newer one."""
    from el.incremental import forget_urls

    cat, batch, urls = _small_base(spark, tmp_path_factory, rc, "frames")
    out = incremental_update(spark, batch, cat, rc)
    forget = forget_urls(spark, cat, urls, rc)
    assert out["clusters"].count() == out["report"]["total_mentions"]
    assert forget["total_mentions"] < out["report"]["total_mentions"]


def test_report_counts_equal_counts_of_their_frames(
    spark, tmp_path_factory, rc, monkeypatch
):
    """The absorb and forget report counts are observed in flight on
    the checkpoints or commits that materialize their frames; each
    must equal a count() of that same frame."""
    import el.incremental as inc

    cat, batch, urls = _small_base(spark, tmp_path_factory, rc, "counts")
    counted = inc._counted
    seen = []

    def checked(df):
        out, n = counted(df)
        seen.append((n, out.count()))
        return out, n

    monkeypatch.setattr(inc, "_counted", checked)
    absorb = inc.incremental_update(spark, batch, cat, rc)["report"]
    forget = inc.forget_urls(spark, cat, urls, rc)
    monkeypatch.undo()

    assert seen == [(absorb["touched_key_rows"],) * 2]
    assert absorb["touched_key_rows"] > 0
    # the two delta counts come from their commits' manifests
    for key, table in (
        ("new_mentions", "mentions_delta_0000"),
        ("delta_pairs_scored", "scored_pairs_delta_0000"),
    ):
        assert absorb[key] == cat.read(spark, table).count() > 0
    # the rest are observed inside the touched_keys checkpoint and
    # the two tombstone commits
    blocks = cat.read(spark, "block_keys_delta_0000")
    n_blocks = blocks.select("strategy", "block_key").distinct().count()
    n_gone = cat.read(spark, "forgotten_mentions").count()
    assert absorb["touched_blocks"] == n_blocks > 0
    assert forget["forgotten_urls"] == urls.distinct().count() > 0
    assert forget["forgotten_mentions"] == n_gone > 0


def test_counts_of_empty_frames_are_zero(
    spark, tmp_path_factory, rc, monkeypatch
):
    """A count observed inside a commit or checkpoint reads 0 for an
    empty frame, also where the plan prunes that frame as empty: a
    forget of nothing (twice, so the second unions into empty
    tombstones), then of a url never crawled, then of nothing again
    (an empty request unioned into non-empty tombstones), and an
    absorb whose new mentions yield no block keys."""
    import el.incremental as inc

    cat, batch, _ = _small_base(spark, tmp_path_factory, rc, "empty")
    never = spark.createDataFrame([("http://never.example/",)], "url string")
    nothing = never.limit(0)
    for request, n_urls in (
        (nothing, 0), (nothing, 0), (never, 1), (nothing, 0),
    ):
        rep = inc.forget_urls(spark, cat, request, rc)
        assert (rep["forgotten_urls"], rep["forgotten_mentions"]) == (n_urls, 0)

    raw = inc.raw_block_keys
    monkeypatch.setattr(inc, "raw_block_keys", lambda *a: raw(*a).limit(0))
    rep = inc.incremental_update(spark, batch, cat, rc)["report"]
    assert rep["new_mentions"] > 0
    assert rep["touched_blocks"] == rep["touched_key_rows"] == 0


def test_absorb_and_forget_execution_count(
    spark, tmp_path_factory, rc, monkeypatch
):
    """Pins the Spark SQL executions of one absorb plus one forget:
    every report count is observed on a checkpoint or commit that runs
    anyway, each absorb delta materializes once, through its commit,
    and neither call rewrites block_keys."""
    import el.clustering as clustering
    from el.incremental import forget_urls

    cat, batch, urls = _small_base(spark, tmp_path_factory, rc, "execs")
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
    incremental_update(spark, batch, cat, rc)
    forget_urls(spark, cat, urls, rc)
    new = [i for i in execution_ids() if i > last]

    # absorb: 1 checkpoint (touched_keys), 5 commits (each delta
    # materializes only through its commit, extraction inside the
    # mentions commit); forget: 3 commits, its counts observed inside
    # the tombstone commits (each commit one parquet job, its digest
    # observed in flight); each of the two CC calls: rounds + 1
    assert len(new) == (1 + 5) + (0 + 3) + len(rounds) + 2


def test_streaming_absorb_equals_direct_absorb(
    spark, tmp_path_factory, rc
):
    """The streaming bridge (readStream -> foreachBatch ->
    incremental_update) must leave the catalog in exactly the state a
    direct batch absorb produces, and a replay of the same files (new
    stream checkpoint, same catalog) must absorb nothing new."""
    import shutil

    from el.streaming import stream_incremental_er

    all_pages = gen_web_pages(spark, 240).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(10)) < 7
    batch1, batch2 = all_pages.where(split), all_pages.where(~split)

    mdir = str(tmp_path_factory.mktemp("models"))
    rc_s = RunConfig(
        run_id="inc", n_score_chunks=2, pipeline=rc.pipeline,
        model_dir=mdir,
    )
    cat_a = HadoopParquetCatalog(str(tmp_path_factory.mktemp("direct")))
    run_checkpointed(spark, batch1, cat_a, rc_s, resume=False)
    # identical starting state for the streaming catalog
    b_root = str(tmp_path_factory.mktemp("stream")) + "/cat"
    shutil.copytree(cat_a.root, b_root)
    cat_b = HadoopParquetCatalog(b_root)

    # direct absorb
    direct = incremental_update(spark, batch2, cat_a, rc_s)

    # streaming absorb of the same delta
    src = str(tmp_path_factory.mktemp("src"))
    batch2.write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    q, reports = stream_incremental_er(spark, src, cat_b, ckpt, rc_s)
    q.awaitTermination()
    assert len(reports) == 1
    assert reports[0]["new_mentions"] == direct["report"]["new_mentions"] > 0

    def cluster_set(cat):
        return {
            (r.mention_id, r.cluster_id)
            for r in cat.read(spark, "clusters").collect()
        }

    assert cluster_set(cat_a) == cluster_set(cat_b)

    # replay: fresh stream checkpoint re-delivers the same files; the
    # ingest anti-join must absorb them as a no-op
    ckpt2 = str(tmp_path_factory.mktemp("ckpt2"))
    q2, reports2 = stream_incremental_er(spark, src, cat_b, ckpt2, rc_s)
    q2.awaitTermination()
    assert len(reports2) == 1 and reports2[0]["new_mentions"] == 0
    assert cluster_set(cat_b) == cluster_set(cat_a)


# ---------------------------------------------------------------------------
# forget_urls: right-to-be-forgotten deletion + cluster repair
# ---------------------------------------------------------------------------


def test_forget_equals_full_run_without_urls(spark, tmp_path_factory, rc):
    """forget_urls(U) must leave the catalog equivalent to a pipeline
    run that never saw U: identical clusters, no forgotten url in any
    read view. Models are shared (fitted once) so vectors/scores are
    comparable across both paths."""
    from el.incremental import _read_with_deltas, forget_urls

    pages = gen_web_pages(spark, 400).localCheckpoint()
    drop = F.pmod(F.xxhash64("url"), F.lit(10)) < 2
    forget_set = pages.where(drop).select("url").distinct()
    assert forget_set.count() > 0

    mdir = str(tmp_path_factory.mktemp("models_fg"))
    cat_a = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fg_a")))
    rc_a = RunConfig(
        run_id="fga", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    run_checkpointed(spark, pages, cat_a, rc_a, resume=False)
    rep = forget_urls(spark, cat_a, forget_set, rc_a)
    assert rep["forgotten_mentions"] > 0

    cat_b = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fg_b")))
    rc_b = RunConfig(
        run_id="fgb", n_score_chunks=2, pipeline=rc.pipeline, model_dir=mdir
    )
    full = run_checkpointed(
        spark, pages.where(~drop), cat_b, rc_b, resume=False
    )

    got = sorted(
        map(
            tuple,
            cat_a.read(spark, "clusters")
            .select("mention_id", "cluster_id")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            full["clusters"].select("mention_id", "cluster_id").collect(),
        )
    )
    assert got == want

    # no read view may surface a forgotten url / its mentions
    urls_left = {
        r["url"]
        for r in _read_with_deltas(spark, cat_a, "mentions")
        .select("url")
        .distinct()
        .collect()
    }
    assert urls_left.isdisjoint(
        {r["url"] for r in forget_set.collect()}
    )
    # idempotent: re-running the same forget changes nothing
    rep2 = forget_urls(spark, cat_a, forget_set, rc_a)
    assert rep2["forgotten_mentions"] == 0
    got2 = sorted(
        map(
            tuple,
            cat_a.read(spark, "clusters")
            .select("mention_id", "cluster_id")
            .collect(),
        )
    )
    assert got2 == got


def test_forget_bridge_mention_splits_cluster(spark, tmp_path_factory, rc):
    """A forgotten mention that BRIDGED two entities must split them:
    dropping its edges (not just its row) is what makes deletion
    semantically a re-run, not a projection."""
    from el.incremental import _read_with_deltas, forget_urls

    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fg_bridge")))
    mentions = spark.createDataFrame(
        [(1, "http://a"), (2, "http://b"), (3, "http://c")],
        "mention_id long, url string",
    )
    scored = spark.createDataFrame(
        [(1, 3, 1.0, True), (2, 3, 1.0, True)],
        "a_id long, b_id long, score double, is_match boolean",
    )
    keys = spark.createDataFrame(
        [("name", "k", 1), ("name", "k", 2), ("name", "k", 3)],
        "strategy string, block_key string, mention_id long",
    )
    cat.write(mentions, "mentions", run_id="t", stage="mentions")
    cat.write(scored, "scored_pairs_all", run_id="t", stage="scored_pairs")
    cat.write(keys, "block_keys", run_id="t", stage="block_keys",
              partition_by=["strategy"])

    rep = forget_urls(
        spark, cat, spark.createDataFrame([("http://c",)], "url string")
    )
    assert rep["forgotten_mentions"] == 1
    got = {
        r["mention_id"]: r["cluster_id"]
        for r in cat.read(spark, "clusters").collect()
    }
    # 3 is gone; 1 and 2 are now SINGLETON clusters (the bridge fell)
    assert got == {1: 1, 2: 2}
    left_keys = {
        r["mention_id"]
        for r in _read_with_deltas(spark, cat, "block_keys").collect()
    }
    assert left_keys == {1, 2}


def test_compact_block_keys_folds_deltas_and_tombstones(
    spark, tmp_path_factory, rc
):
    """After an absorb and a forget, compacting block_keys writes the
    merged, tombstone-filtered key view back as the base (partitioned
    by strategy) and drops the folded delta; the next absorb continues
    the batch numbering."""
    import os

    from el.incremental import (
        _batch_markers,
        _delta_names,
        _read_with_deltas,
        compact_deltas,
        forget_urls,
    )

    pages = gen_web_pages(spark, 240).localCheckpoint()
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("cmp_keys")))
    run_checkpointed(spark, pages.where(part == 0), cat, rc, resume=False)
    incremental_update(spark, pages.where(part == 1), cat, rc)
    forget_set = pages.where(
        (part < 2) & (F.pmod(F.xxhash64("url", F.lit(1)), F.lit(7)) == 0)
    ).select("url")
    assert forget_urls(spark, cat, forget_set, rc)["forgotten_mentions"] > 0

    cols = ["mention_id", "strategy", "block_key"]

    def rows(df):
        return sorted(map(tuple, df.select(*cols).collect()))

    before = rows(_read_with_deltas(spark, cat, "block_keys"))
    rep = compact_deltas(spark, cat, "block_keys", run_id=rc.run_id)
    assert rep["folded_batches"] == 1
    assert rows(cat.read(spark, "block_keys")) == before
    assert all(
        f["path"].startswith("strategy=")
        for f in cat.manifest("block_keys")["files"]
    )
    gone = {
        r["mention_id"]
        for r in cat.read(spark, "forgotten_mentions").collect()
    }
    assert gone and gone.isdisjoint(m for m, _, _ in before)
    assert not [
        d for d in os.listdir(cat.root) if d.startswith("block_keys_delta_")
    ]
    assert _delta_names(cat, "block_keys") == []

    incremental_update(spark, pages.where(part == 2), cat, rc)
    assert [m["batch"] for m in _batch_markers(cat)] == [0, 1]
    assert _delta_names(cat, "block_keys") == ["block_keys_delta_0001"]


def test_scored_pair_view_drops_forgotten_ends_and_survives_compaction(
    spark, tmp_path_factory, rc
):
    """Scored pairs read through the same view as every other
    append-only table: over a chunked base plus an absorb delta, a
    forget hides every pair with a forgotten end, and compaction
    leaves the view's pair set unchanged."""
    from el.incremental import (
        _delta_names,
        _read_with_deltas,
        compact_deltas,
        forget_urls,
    )

    pages = gen_web_pages(spark, 240).localCheckpoint()
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("view_pairs")))
    run_checkpointed(spark, pages.where(part == 0), cat, rc, resume=False)
    incremental_update(spark, pages.where(part == 1), cat, rc)
    forget_set = pages.where(
        (part < 2) & (F.pmod(F.xxhash64("url", F.lit(1)), F.lit(7)) == 0)
    ).select("url")
    assert forget_urls(spark, cat, forget_set, rc)["forgotten_mentions"] > 0

    chunks = cat.tables("scored_chunk_")
    deltas = _delta_names(cat, "scored_pairs")
    assert chunks and deltas and not cat.exists("scored_pairs_all")
    gone = {
        r["mention_id"]
        for r in cat.read(spark, "forgotten_mentions").collect()
    }
    stored = cat.read_all(spark, chunks).unionByName(
        cat.read_all(spark, deltas)
    )
    # the stored rows still hold pairs the forget must hide
    assert stored.where(
        F.col("a_id").isin(*gone) | F.col("b_id").isin(*gone)
    ).count() > 0

    def pairs():
        return {
            (r.a_id, r.b_id)
            for r in _read_with_deltas(spark, cat, "scored_pairs")
            .select("a_id", "b_id").collect()
        }

    before = pairs()
    assert before and all(a not in gone and b not in gone for a, b in before)
    rep = compact_deltas(spark, cat, "scored_pairs", run_id=rc.run_id)
    assert rep["folded_batches"] == 1 and rep["folded_chunks"] == len(chunks)
    assert cat.tables("scored_chunk_") == []
    assert pairs() == before


def test_forget_suppresses_reingest_and_compacts_physically(
    spark, tmp_path_factory, rc
):
    """Forgotten urls never come back (suppression list in
    incremental_update), and the next compaction removes tombstoned
    rows physically from the base table."""
    from el.incremental import (
        _read_with_deltas,
        compact_deltas,
        forget_urls,
        incremental_update,
    )

    pages = gen_web_pages(spark, 300).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(10)) < 7
    batch1, batch2 = pages.where(split), pages.where(~split)
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fg_sup")))
    run_checkpointed(spark, batch1, cat, rc, resume=False)

    drop = F.pmod(F.xxhash64("url"), F.lit(7)) == 0
    forget_set = batch1.where(drop).select("url").distinct()
    n_forget = forget_set.count()
    assert n_forget > 0
    forget_urls(spark, cat, forget_set, rc)

    # absorb a batch that RE-CONTAINS the forgotten pages + new ones:
    # the suppression list must keep them out
    out = incremental_update(
        spark, batch2.unionByName(batch1.where(drop)), cat, rc
    )
    assert out["report"]["new_mentions"] > 0
    mentions_after = _read_with_deltas(spark, cat, "mentions")
    assert (
        mentions_after.join(
            forget_set, on="url", how="left_semi"
        ).count()
        == 0
    )

    # compaction folds the absorb delta AND applies tombstones
    # physically: the raw base table no longer contains the ids
    gone_ids = {
        r["mention_id"]
        for r in cat.read(spark, "forgotten_mentions").collect()
    }
    assert gone_ids
    compact_deltas(spark, cat, "mentions")
    raw_base = {
        r["mention_id"]
        for r in cat.read(spark, "mentions").select("mention_id").collect()
    }
    assert raw_base.isdisjoint(gone_ids)
