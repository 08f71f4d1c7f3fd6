"""Physical-plan audits: the properties that make these operators
scale are asserted on the actual Catalyst plans, not assumed —
predicate pushdown reaches the parquet scan, column pruning shrinks
ReadSchema, small sides broadcast, window caps use WindowGroupLimit,
and the scoring hot path is the only Arrow boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    from el.queries import REGISTRY

    df = REGISTRY["p2_filter_orders"].fn(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning_shrinks_read_schema(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    plan = _plan(df)
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in schema
    assert "l_extendedprice" not in schema  # untouched columns pruned


def test_broadcast_join_selected_for_small_dim(spark):
    from el.queries import REGISTRY

    plan = _plan(REGISTRY["j3_broadcast_nation_counts"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_window_cap_uses_group_limit(spark):
    from el.queries import REGISTRY

    plan = _plan(REGISTRY["w1_per_block_cap"].fn(spark, SF))
    # rank-limit pushdown: per-group top-k never materializes full rank
    assert "WindowGroupLimit" in plan


def test_scoring_plan_shape(spark):
    """Scoring: feature attach is broadcast (pair rows never shuffle
    for the join) and only the hot branch crosses the Arrow boundary."""
    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, mentions_stage
    from el.scoring import ScoringConfig, score_pairs
    from el.tfidf import TfidfModel
    from el import blocking

    pages = gen_web_pages(spark, 200)
    cfg = PipelineConfig(use_lsh=False, use_topics=False)
    m = mentions_stage(pages, cfg).localCheckpoint()
    # materialized like production (the runner reads mentions_vec from
    # a committed table, so its transform UDF is not in the scoring plan)
    mv = (
        TfidfModel.fit(m, "context")
        .transform(m, "context", "tfidf")
        .localCheckpoint()
    )
    keys, _ = blocking.cap_blocks(blocking.name_token_keys(m))
    pairs = blocking.candidate_pairs(keys)
    plan = _plan(score_pairs(pairs, mv, ScoringConfig()))
    assert plan.count("BroadcastHashJoin") >= 4  # names x2 + vectors x2
    assert "SortMergeJoin" not in plan
    assert plan.count("ArrowEvalPython") == 1  # hot branch only


def test_mentions_stage_crosses_into_python_once(spark):
    """Extraction is one Python pass per page: above the ingest gate's
    dedup window the mentions plan holds a single MapInPandas (text,
    sha and mention rows) and no scalar Python UDF. The fixture
    generator below the window is itself a MapInPandas, so only the
    nodes above the Window count."""
    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, mentions_stage

    plan = _plan(mentions_stage(gen_web_pages(spark, 200), PipelineConfig()))
    above_gate = plan.split("Window [")[0]
    assert above_gate.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in above_gate
    assert "BatchEvalPython" not in above_gate


def test_scoring_shuffled_join_fallback_equals_broadcast(spark):
    """broadcast_features=False (for corpora whose feature table
    exceeds executor memory) must produce identical rows through a
    shuffled join — the knob changes the physical plan only."""
    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, mentions_stage
    from el.scoring import ScoringConfig, score_pairs
    from el.tfidf import TfidfModel
    from el import blocking

    pages = gen_web_pages(spark, 150)
    cfg = PipelineConfig(use_lsh=False, use_topics=False)
    m = mentions_stage(pages, cfg).localCheckpoint()
    mv = (
        TfidfModel.fit(m, "context").transform(m, "context", "tfidf")
        .localCheckpoint()
    )
    keys, _ = blocking.cap_blocks(blocking.name_token_keys(m))
    pairs = blocking.candidate_pairs(keys).localCheckpoint()

    on = score_pairs(pairs, mv, ScoringConfig(broadcast_features=True))
    off = score_pairs(pairs, mv, ScoringConfig(broadcast_features=False))
    # without the hint Catalyst still auto-broadcasts small tables
    # (that IS the size-driven behavior); disable the auto threshold
    # to prove the fallback genuinely shuffles when size forbids it
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_off = _plan(off)
        assert "BroadcastHashJoin" not in plan_off
        assert "SortMergeJoin" in plan_off
        plan_on = _plan(on)
        assert "BroadcastHashJoin" in plan_on  # hint overrides threshold
        rows_on = sorted(map(tuple, on.collect()))
        rows_off = sorted(map(tuple, off.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert rows_on == rows_off


def test_whole_stage_codegen_covers_relational_ops(spark):
    from el.queries import REGISTRY

    df = REGISTRY["a1_pricing_summary"].fn(spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # "*(n)" operator prefix == inside a WholeStageCodegen span
    assert "*(" in plan
    assert "*(2) HashAggregate" in plan or "*(1) HashAggregate" in plan


def test_centroid_jvm_uses_partial_aggregation(spark):
    """The JVM centroid variant must get map-side partial aggregation
    (shuffle carries accumulators, not raw vectors) and contain no
    Python nodes."""
    from el.similarity import grouped_centroid_jvm

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(grouped_centroid_jvm(e))
    assert "partial_avg" in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "AggregateInPandas" not in plan


def test_no_cartesian_in_blocked_dedup(spark):
    """Every blocked/banded ngram_jaccard_pairs plan must stay
    equi-joins — the exact path on the block col, the minhash path on
    the band key, and the blocked minhash path's same-block post-
    filter attaches block values by ID join, never a block join.
    (exact + block_col=None is BY DESIGN the quadratic all-pairs
    baseline, so it is not audited here.)"""
    from el.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    audited = [
        dict(method="exact", block_col="lang"),
        dict(method="minhash"),
        dict(method="minhash", block_col="lang"),
    ]
    for kw in audited:
        plan = _plan(ngram_jaccard_pairs(d, n=2, threshold=0.5, **kw))
        assert "CartesianProduct" not in plan, kw
        assert "BroadcastNestedLoopJoin" not in plan, kw


def test_neardup_scale_paths_never_join_on_block_col(spark):
    """The default (scale) paths of dd4/dd5 must
    not contain the quadratic join on the low-cardinality block col —
    candidates come from band/bucket equi-joins only."""
    from el.dedup import embedding_neardup_pairs, ngram_jaccard_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _optimized(ngram_jaccard_pairs(d, n=2, threshold=0.5))
    assert "block_key" in plan  # minhash band join
    assert "_blk" not in plan  # no lang-block join anywhere

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _optimized(embedding_neardup_pairs(e, threshold=0.4))
    assert "bucket" in plan  # LSH bucket join
    phys = _plan(embedding_neardup_pairs(e, threshold=0.4))
    # column pruning: label never leaves the parquet scan (the
    # optimized plan still *prints* it in the Relation schema, so
    # check the physical scans' ReadSchema instead)
    for chunk in phys.split("ReadSchema:")[1:]:
        assert "label" not in chunk.splitlines()[0]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys


def test_hygiene_filters_are_shuffle_free(spark):
    """The inline repetition filters must stay in the scan stage: no
    Exchange anywhere in the filter-only plan (the canonical-url dedup
    window is the only part of the hygiene gate allowed to shuffle)."""
    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, hygiene_stage

    pages = gen_web_pages(spark, 200)
    cfg = PipelineConfig(min_distinct_word_ratio=0.1, max_dup_2gram=0.9)
    plan = _plan(hygiene_stage(pages, cfg))
    assert "Exchange" not in plan
    # with canonical dedup on, exactly the one window shuffle appears
    cfg2 = PipelineConfig(
        canonical_url_dedup=True,
        min_distinct_word_ratio=0.1,
        max_dup_2gram=0.9,
    )
    plan2 = _plan(hygiene_stage(pages, cfg2))
    assert plan2.count("Exchange hashpartitioning") == 1


def test_canonicalize_url_projects_without_shuffle(spark):
    from el.queries import REGISTRY

    # another module's persisted read of the same parquet would be
    # cache-substituted into this plan (CacheManager matches equivalent
    # sub-plans), making ReadSchema show the cache's full column set —
    # audit the real scan, not test-order-dependent cache state
    spark.catalog.clearCache()
    df = REGISTRY["tx6_url_canonicalize"].fn(spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan  # pure project over the scan
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in schema  # only doc_id + source read


def test_chunk_dedup_partial_aggregates(spark):
    """dd6 is the 100 TB shape: digests+ids shuffle, text never does.
    countDistinct expands to the standard two-phase aggregate — an
    exchange on (chunk_md5, doc_id) then one on (chunk_md5), each fed
    by a map-side partial HashAggregate; both shuffle payloads are
    fixed-width (digest, id), and the text column dies at the scan."""
    from el.queries import REGISTRY

    df = REGISTRY["dd6_chunk_exact_dedup"].fn(spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    first = plan.index("Exchange hashpartitioning")
    assert "partial_" in plan[first:], "map-side partial agg missing"
    # text enters the Generate/Project but never a shuffle: both
    # exchanges key on chunk_md5 (+doc_id), not text
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg.split(",", 2)[1]


def test_link_tables_plan_shape(spark):
    """lk1's plan is the scale contract for two-table linkage: the
    candidate join is an equi-join on the block key (never a
    cartesian/nested-loop), and the Jaro-Winkler verify is ONE Arrow
    boundary fed only distinct candidates."""
    from el.queries import REGISTRY

    df = REGISTRY["lk1_link_part_names"].fn(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_stratified_sample_is_exchange_free(spark):
    """ds3: a hash-threshold sample is a pure filter — no shuffle may
    appear anywhere in its plan (the same no-Exchange discipline as
    hash_split)."""
    from el.datasets import stratified_sample

    spark.catalog.clearCache()
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    plan = _plan(
        stratified_sample(d, "lang", {"en": 0.5, "de": 1.0}, "doc_id")
    )
    assert "Exchange" not in plan


def test_bloom_prune_filters_before_verify_join(spark):
    """j9: the probe-side Bloom filter must run BELOW the verify
    semi-join (prune-then-shuffle, the operator's entire point), and
    the probe scan must not read columns the query dropped."""
    from el.bloom import bloom_semi_join
    from el.io import load_table

    spark.catalog.clearCache()
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    keys = (
        load_table(spark, SF, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    plan = _plan(bloom_semi_join(orders, keys, "o_custkey", num_bits=1 << 16))
    join_at = plan.find("LeftSemi")
    eval_at = plan.find("ArrowEvalPython")
    assert join_at >= 0 and eval_at >= 0
    # executedPlan prints top-down: the UDF filter sits under the join
    assert eval_at > join_at
    # budget: exactly one Arrow boundary (the bitmap probe)
    assert plan.count("ArrowEvalPython") == 1


def test_budget_select_single_shuffle_on_group(spark):
    """ds4: one Exchange (hashpartitioning on the group col) feeds the
    window — no global sort, no second shuffle."""
    from el.datasets import budget_select

    spark.catalog.clearCache()
    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    plan = _plan(
        budget_select(d, "lang", "n_chars", "n_chars", 10_000, "doc_id")
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_default_capped_generators_plan_shape(spark):
    """r4: the production hot-bucket cap (DEFAULT_MAX_BUCKET) must
    compile to a rank-pushdown plan, not a full materialize-then-
    filter: WindowGroupLimit prunes each bucket to the cap BEFORE the
    self-join sees it, and the capped plan stays cartesian-free."""
    from el.dedup import minhash_lsh_pairs, simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for gen in (minhash_lsh_pairs, simhash_pairs):
        plan = _plan(gen(docs))
        assert "WindowGroupLimit" in plan, gen.__name__
        assert "Cartesian" not in plan, gen.__name__
        # uncapped oracle form: no window machinery at all
        plain = _plan(gen(docs, max_bucket=None))
        assert "WindowGroupLimit" not in plain, gen.__name__


def test_blocklist_filter_broadcasts_never_shuffles_corpus(spark):
    """tx13's scale contract: the corpus side of blocklist_filter
    reaches its anti-join with NO exchange of corpus rows — the
    blocklist joins broadcast — and only the tiny distinct-host
    table is ever hash-partitioned."""
    from el.textops import blocklist_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("source").alias("host")
    )
    bl = spark.createDataFrame([("src1",), ("src2",)], "blocked_host string")
    plan = _plan(blocklist_filter(docs, bl))
    assert "BroadcastHashJoin" in plan
    # the corpus scan feeds the final anti-join without repartitioning:
    # every Exchange in the plan sits under the distinct-host branch
    # (keyed on the renamed _bl_host), never on corpus columns
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_bl_host" in line, line


def test_c4_clean_is_shuffle_free_projection(spark):
    """tx14 must stay in the scan stage: a pure builtin-expression
    projection with no Exchange and no Python/Arrow boundary, and the
    c4_line_clean hygiene knob must not add a shuffle either."""
    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, hygiene_stage
    from el.textops import c4_clean

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(c4_clean(docs))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    pages = gen_web_pages(spark, 200)
    plan2 = _plan(hygiene_stage(pages, PipelineConfig(c4_line_clean=True)))
    assert "Exchange" not in plan2


def test_anchor_alias_stats_aggregate_plan_shape(spark):
    """g2's only shuffles are the two hash-aggregate exchanges of
    Spark's distinct-agg rewrite (partial on (host, alias, src), then
    (host, alias)) — anchor extraction is a scan-stage projection (no
    Python), and map-side partial aggregation precedes the first
    exchange, so the wire carries pre-combined triples, never raw
    anchor occurrences."""
    from el.extract import anchor_alias_stats, extract_anchor_texts

    pages = spark.createDataFrame(
        [("u1", '<a href="https://a.com/x">A Corp</a>')],
        "url string, html string",
    )
    df = anchor_alias_stats(extract_anchor_texts(pages))
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # map-side combine before the first exchange
    assert plan.index("partial_count") > plan.index("Exchange")


def test_resolve_links_broadcasts_catalog_and_never_cartesians(spark):
    """el3's scale contract: BOTH catalog-side joins (candidate
    generation and the top-2 self-combination) broadcast or stay
    mention-keyed equi-joins — never a cartesian — and the per-mention
    window runs once over <= 2 candidate rows."""
    from el.linking import alias_prior, resolve_links

    prior = alias_prior(
        spark.createDataFrame(
            [("paris", "city:paris", 6, 3), ("paris", "person:paris", 2, 2)],
            "alias string, dst_host string, n_links long, n_src_pages long",
        )
    )
    mentions = spark.createDataFrame(
        [(1, "paris"), (2, "nope")], "mention_id long, surface string"
    )
    plan = _plan(resolve_links(mentions, prior))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the catalog side broadcasts
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fs_score_is_shuffle_free_projection(spark):
    """lk2's scoring contract: over already-blocked candidates,
    field_agreements + fs_score compile to pure whole-stage-codegen
    projections — zero exchanges, zero Python boundaries; the Bayes
    factor rides the scan."""
    from el.linkage import field_agreements, fs_score

    cands = spark.createDataFrame(
        [(1, 2, "a", "a", 5, 5)],
        "l_id long, r_id long, l_city string, r_city string,"
        " l_zip long, r_zip long",
    )
    out = fs_score(
        field_agreements(cands, ["city", "zip"]),
        {"city": (0.9, 0.1), "zip": (0.9, 0.2)},
        prior=0.5,
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # codegen'd stages print as "*(n)" in executedPlan().toString()
    assert "*(1) Project" in plan


def test_meta_blocking_plan_no_cartesian_totals_broadcast(spark):
    """mb1's plan contract: the pair self-join stays an equi-join on
    the purged block key (never CartesianProduct — the quadratic
    blowup is bounded by max_block), and the WEP threshold attaches
    via a BROADCAST of the 1-row totals aggregate, never a shuffle
    of the edge set against it. No Python boundaries anywhere."""
    from el.blocking import meta_blocking_prune

    post = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "y"), (1, "y")],
        "id long, block_key string",
    )
    plan = _plan(meta_blocking_prune(post, min_block=2, max_block=10))
    assert "CartesianProduct" not in plan
    # the 1-row totals frame rides a broadcast nested-loop (no key),
    # which is the cheap side of a 1-row cross attach
    assert "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_prefix_filter_jaccard_plan_shape(spark):
    """dd11's exactness must not come from a quadratic plan: the
    candidate stage is an EQUI join on the prefix token and the
    verify stage equi-joins back on ids — no cartesian, no
    nested-loop, no Python evaluation anywhere (all JVM
    expressions)."""
    from el.queries import REGISTRY

    plan = _plan(REGISTRY["dd11_prefix_filter_jaccard"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_interval_overlap_join_oracle_query_plan(spark):
    """j10's registry configuration (events intervals, event_type
    key) compiles to the equi-join shape at the driver's scale too:
    no nested loop, no cartesian, no dedup aggregate after the
    join."""
    from el.queries import REGISTRY

    plan = _plan(REGISTRY["j10_interval_overlap_join"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" not in plan
