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
    from el.fixtures import gen_web_pages
    from el.incremental import ingest_new_mentions
    from el.pipeline import mentions_stage

    pages = gen_web_pages(spark, 200).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(4)) < 1
    cfg = PipelineConfig(use_lsh=False, use_topics=False)
    old = mentions_stage(pages.where(~split), cfg).localCheckpoint()
    delta = mentions_stage(pages.where(split), cfg).localCheckpoint()

    df = ingest_new_mentions(delta, old)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2, plan  # the two tiny distincts only

    # and it computes exactly the anti-join it replaces
    naive = delta.join(
        old.select("url").distinct(), on="url", how="left_anti"
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, naive.collect())
    )


def test_incremental_recaps_hot_blocks(spark, tmp_path_factory):
    """The cap stays a PAIR-GENERATION bound across absorbs (ADVICE r1
    flagged the original unbounded-growth bug; r5 moved the bound from
    the committed table to the pair-gen path): the committed block_keys
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


def test_incremental_superset_of_batch_under_binding_cap(
    spark, tmp_path_factory
):
    """r5 equivalence guarantee when the cap BINDS: the incremental
    pair set must CONTAIN every pair the batch run generates — the
    committed raw keys let a touched block re-cap over its full
    membership, picking exactly the batch run's capped member set.
    (Before r5 the committed table was capped, so members dropped by
    the base run were lost to later re-caps and batch pairs went
    missing; this test fails on that design.) Matched batch pairs must
    also land in one incremental cluster each."""
    import os

    from el.incremental import _read_with_deltas, _scored_pair_tables
    from el.scoring import matched_edges

    cap_rc = RunConfig(
        run_id="cap2",
        n_score_chunks=2,
        pipeline=PipelineConfig(use_lsh=False, use_topics=False, cap_k=8),
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
        for r in _scored_pair_tables(spark, inc_cat)[1]
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
    """ADVICE r2: a crash between a batch's two delta writes must not
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
        # vec delta committed, then die before the mentions delta
        if table.startswith("mentions_delta_"):
            raise RuntimeError("simulated crash between delta writes")
        return real_write(df, table, **kw)

    monkeypatch.setattr(cat, "write", dying_write)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_update(spark, batch2, cat, rc_inc)
    monkeypatch.undo()

    # crashed state: orphan vec delta exists, no marker -> invisible
    from el.incremental import _batch_markers, _delta_names, _read_with_deltas

    assert cat.exists("mentions_vec_delta_0000")
    assert not _batch_markers(cat)
    assert _delta_names(cat, "mentions_vec") == []

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


def test_report_counts_equal_counts_of_their_frames(
    spark, tmp_path_factory, rc, monkeypatch
):
    """The six absorb and forget report counts are observed in flight
    on the checkpoints that materialize their frames; each must equal
    a count() of that same frame."""
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

    assert [n for n, _ in seen] == [c for _, c in seen]
    assert [n for n, _ in seen] == [
        absorb["new_mentions"],
        absorb["touched_blocks"],
        absorb["touched_key_rows"],
        absorb["delta_pairs_scored"],
        forget["forgotten_urls"],
        forget["forgotten_mentions"],
    ]
    assert all(n > 0 for n, _ in seen)


def test_absorb_and_forget_execution_count(
    spark, tmp_path_factory, rc, monkeypatch
):
    """Pins the Spark SQL executions of one absorb plus one forget:
    every report count is observed on a checkpoint that runs anyway,
    block keys commit as a delta, and neither call rewrites block_keys
    or checkpoints a frame only to guard a catalog write."""
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

    # absorb: 7 checkpoints, 5 commits of 2 executions each (parquet
    # job + lineage hash); forget: 2 checkpoints, 3 commits; each of
    # the two CC calls: rounds + 1
    assert len(new) == (7 + 5 * 2) + (2 + 3 * 2) + len(rounds) + 2


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
