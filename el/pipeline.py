"""End-to-end pipeline: web_pages -> mentions -> block_keys ->
candidate_pairs -> scored_pairs -> edges -> clusters (SURVEY.md §3.2).

This module holds the stage operators (ingest gate, extraction,
blocking); el.runner holds the stage list and the one executor that
runs it, with or without a catalog.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from el import blocking
from el.extract import extract_mentions
from el.scoring import ScoringConfig


@dataclass
class PipelineConfig:
    cap_k: int = 64
    # hot-block policy: "cap" drops members beyond cap_k (observable in
    # stats); "salt" splits hot blocks into salted sub-blocks (no
    # drops, within-sub-block pairs only) — el.blocking.salt_blocks
    block_skew: str = "cap"
    langs: tuple[str, ...] = ("en",)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)
    use_lsh: bool = True
    use_topics: bool = True
    # optional 4th blocking strategy: phonetic soundex buckets catch
    # typo'd names whose prefix4 drifted (smith/smyth); off by default
    # (the 3-strategy recall gate already holds without it)
    use_soundex: bool = False
    # cap on the TF-IDF/LDA fit input (deterministic hash-sample of
    # the corpus): bounds the fit-once step at 100x scale; None = no
    # cap. Model ARTIFACTS are unaffected in shape either way.
    fit_sample_max: int | None = 100_000
    # crawl-hygiene ingest gate — all OFF by default (the F1/e2e
    # gates run on the curated fixture); production crawls enable:
    # dedup by CANONICAL url (tracking params / www / default ports /
    # fragments collapse into one key) instead of the raw url,
    canonical_url_dedup: bool = False
    # and drop pages failing repetition/quality thresholds
    min_distinct_word_ratio: float | None = None
    max_dup_2gram: float | None = None
    # corpus-LM rarity gate (completes the CCNet-shaped quality
    # stack): drop pages whose rare-bigram rate
    # exceeds the threshold. Off by default. Scored against the
    # persisted BigramCountsModel at bigram_counts_path when set (the
    # production path — fit-unseen bigrams count as maximally rare),
    # else self-fit on the incoming batch.
    max_rare_bigram_frac: float | None = None
    bigram_counts_path: str | None = None
    # host-blocklist ingest gate (UT1/RefinedWeb-style URL filtering
    # in the production path): drop pages whose url host,
    # or any parent domain of it (suffix-chain semantics), is listed.
    # Off by default (None). Driver-side tuple because UT1-category
    # lists are ~1e5-1e6 entries — broadcast-sized at any corpus
    # scale; pipelines with a table-backed list call
    # el.textops.blocklist_filter directly.
    blocked_hosts: tuple[str, ...] | None = None
    # C4 line-level cleaning gate: drop pages failing the page rules
    # (< c4_min_sentences sentences after cleaning, "lorem ipsum",
    # '{'; null text). Off by default. Only the verdict reaches
    # mentions: hygiene_stage also rewrites ``text`` to its prose lines
    # (terminal punctuation, >= 5 tokens, no "javascript"), but
    # extraction re-derives text from ``html``.
    # Pure projection + filter, zero shuffle.
    c4_line_clean: bool = False
    c4_min_sentences: int = 3


def dedup_latest(pages: DataFrame, key: str = "url") -> DataFrame:
    """P4/W3: latest-wins per ``key`` (re-crawls), total order
    tie-break."""
    w = Window.partitionBy(key).orderBy(
        F.col("warc_ts").desc(), F.xxhash64("html").asc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def hygiene_stage(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Optional crawl-hygiene ingest gate, applied BEFORE extraction.

    Scale discipline: the repetition filters are computed INLINE as
    array expressions (1 - array_distinct/size over tokens / 2-grams)
    — per-row in the scan stage, whole-stage codegen, ZERO shuffle —
    unlike the explode->groupBy analytics op (el.textops
    .repetition_stats), which exists to report full per-doc stats
    including top-word share. Same formulas, same values; different
    physical shape because a filter must not cost an aggregation at
    crawl scale. Canonical-url dedup replaces the raw-url recrawl
    dedup key with ``canonicalize_url(url)`` (same latest-wins
    window)."""
    from el.textops import canonicalize_url, tokens_of

    out = pages
    if cfg.blocked_hosts:
        # cheapest-first: a pure host projection plus two broadcast
        # joins (blocklist_filter's distinct-host plan) prunes blocked
        # domains before the dedup window or any tokenization runs.
        # Hosts are normalized exactly like canonicalize_url's host
        # part so list entries match both raw and canonical urls.
        from el.textops import blocklist_filter, normalized_host

        bl = pages.sparkSession.createDataFrame(
            [(h,) for h in cfg.blocked_hosts], "blocked_host string"
        )
        out = blocklist_filter(
            out.withColumn("_hyg_host", normalized_host(F.col("url"))),
            bl,
            host_col="_hyg_host",
        ).drop("_hyg_host")
    if cfg.c4_line_clean:
        # page verdict + line-level rewrite BEFORE the dedup window:
        # pages the C4 rules drop never enter the shuffle. The cleaned
        # ``text`` is seen only by direct callers of hygiene_stage
        # (mentions_stage extracts from html). Verdict tells run on the
        # ORIGINAL text (_c4_exprs contract).
        from el.textops import _c4_exprs

        _, _, clean, _, c4_pass = _c4_exprs(
            F.col("text"), min_line_words=5,
            min_sentences=cfg.c4_min_sentences,
        )
        out = (
            out.where(F.col("text").isNotNull())
            .where(c4_pass)
            .withColumn("text", clean)
        )
    if cfg.canonical_url_dedup:
        out = dedup_latest(
            out.withColumn("_curl", canonicalize_url(F.col("url"))), "_curl"
        ).drop("_curl")
    if (
        cfg.min_distinct_word_ratio is not None
        or cfg.max_dup_2gram is not None
    ):
        toks = tokens_of(F.col("text"))
        n = F.size(toks).cast("double")
        if cfg.min_distinct_word_ratio is not None:
            dwr = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
                n, F.lit(1.0)
            )
            out = out.where(dwr >= cfg.min_distinct_word_ratio)
        if cfg.max_dup_2gram is not None:
            # length clamped >= 0: when() does not short-circuit its
            # branches, and slice() throws on negative lengths
            glen = F.greatest(F.size(toks) - 1, F.lit(0))
            grams = F.zip_with(
                F.slice(toks, 1, glen),
                F.slice(toks, 2, glen),
                lambda a, b: F.concat_ws(" ", a, b),
            )
            ng = F.size(grams).cast("double")
            dup = F.when(
                F.size(toks) < 2, F.lit(0.0)
            ).otherwise(
                F.lit(1.0)
                - F.size(F.array_distinct(grams)).cast("double") / ng
            )
            out = out.where(dup <= cfg.max_dup_2gram)
    if cfg.max_rare_bigram_frac is not None:
        # corpus-LM rarity gate (lm1). Unlike the inline filters above
        # this one is CORPUS-statistical, so it costs one explode +
        # equi-join against the counts table (broadcast-able when the
        # fit is small; AQE decides) — still linear, but not free:
        # that is why it is a separate knob, off by default. Rows are
        # keyed by a content hash (url alone is not unique before the
        # recrawl dedup); null text scores 0 bigrams -> rare_frac 0 ->
        # kept, leaving null handling to the lang/null gate.
        from el.textops import BigramCountsModel, bigram_rarity
        from el.textops import corpus_bigram_counts

        hid = F.xxhash64(
            F.col("url"), F.col("warc_ts").cast("long"), F.col("text")
        )
        keyed = out.withColumn("_hid", hid)
        docs = keyed.select(
            "_hid", F.coalesce(F.col("text"), F.lit("")).alias("text")
        )
        if cfg.bigram_counts_path is not None:
            model = BigramCountsModel.load(
                out.sparkSession, cfg.bigram_counts_path
            )
            rar = model.score(docs, id_col="_hid")
        else:
            rar = bigram_rarity(docs, corpus_bigram_counts(docs), id_col="_hid")
        keep = rar.where(
            F.col("rare_frac") <= cfg.max_rare_bigram_frac
        ).select("_hid")
        out = keyed.join(keep, on="_hid", how="left_semi").drop("_hid")
    return out


def gated_pages(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Hygiene gate -> dedup -> lang gate: the pages extraction sees."""
    return dedup_latest(hygiene_stage(pages, cfg)).where(
        F.col("lang").isin(*cfg.langs)
    )


def mentions_stage(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Gated pages -> EXTRACT_SPEC v1 -> mention rows.

    Column-pruning discipline: ``html`` is only referenced here; every
    later stage sees mention-level columns only."""
    return extract_mentions(gated_pages(pages, cfg))


def raw_block_keys(
    mentions: DataFrame, cfg: PipelineConfig, topic_buckets: DataFrame | None = None
) -> DataFrame:
    """UNCAPPED multi-key union of the blocking strategies: the
    block_keys stage. The skew policy (W1 cap / J2 salt) is a
    PAIR-GENERATION-time policy (``skew_capped_keys``), not a storage
    mutation — a member dropped by one run's cap is never permanently
    discarded, so an incremental absorb that touches the block re-caps
    over the FULL membership and generates exactly the capped pair
    universe a batch run over the whole corpus would. Table size stays
    one row per (mention, key) — linear in the corpus, the same scale
    as mentions itself."""
    keys = blocking.name_token_keys(mentions)
    if cfg.use_soundex:
        keys = keys.unionByName(blocking.soundex_keys(mentions))
    if cfg.use_lsh:
        from el.minhash import lsh_band_keys

        keys = keys.unionByName(lsh_band_keys(mentions))
    if topic_buckets is not None:
        keys = keys.unionByName(topic_buckets)
    return keys


def skew_capped_keys(
    keys: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """Apply the configured skew policy to a raw key table: "cap"
    drops members beyond cap_k per block (deterministic hash-order
    keep, observable in stats); "salt" splits hot blocks into salted
    sub-blocks (no drops). Returns (keys, stats). Because both
    policies operate strictly WITHIN a block, applying them to any
    whole-block subset of a key table equals restricting the policy's
    output to those blocks — the commuting property the incremental
    touched-blocks path relies on."""
    if cfg.block_skew == "salt":
        return blocking.salt_blocks(keys, cfg.cap_k)
    return blocking.cap_blocks(keys, cfg.cap_k)


def run_pipeline(
    spark,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Full batch run without a catalog: ``el.runner.execute`` over
    the stage list, each stage localCheckpointed inside its own
    timing, with models fitted on this corpus in memory (a prefit
    model dir goes to ``execute`` as ``RunConfig.model_dir``). Returns
    {"report": {stage: {"rows", "wall_ms", "resumed"}}, <stage>:
    DataFrame, ...}."""
    from el.runner import RunConfig, execute

    return execute(spark, pages, RunConfig(pipeline=cfg or PipelineConfig()))
