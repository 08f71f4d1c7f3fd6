"""The benchmark's workloads. Each one drives el's public entry points
as a single closed-loop client: the next operation starts only after
the previous one returned and its result was materialized.

- ``batch_resolve``: the production batch path. ``run_checkpointed``
  resolves a fresh corpus into a fresh catalog with the default
  ``PipelineConfig`` minus topic blocking and a prefit TF-IDF model,
  then the linking chain (anchor extraction -> ``alias_prior`` ->
  ``resolve_links``) resolves a mention table against anchor evidence.
  Extract, vectorize, block, score, cluster, catalog and linking work
  here; incremental does nothing.
- ``crawl_day``: the incremental path. Two crawl hours that share no
  canonical url; hour 0 is the base run (set-up), then each cycle
  restores that base, absorbs hour 1 with ``incremental_update``,
  forgets a fixed slice of canonical-url groups with ``forget_urls``
  and folds the deltas with ``compact_deltas``. Incremental, catalog
  and cluster do work that grows with the corpus on every call;
  scoring sees only delta pairs.

Both report the same end-to-end metrics (``END_TO_END``); the
per-layer metrics (``layer_units``) come from a traced run.
"""

from __future__ import annotations

import bisect
import os
import shutil
import statistics

from pyspark.sql import functions as F

from box import Stopwatch, process_age_s

# Sizes: Spark's fixed per-job and cold-JVM costs dominate a run at
# these sizes, so the page counts barely move the time; what a run does
# (steps, score chunks, model fits) is cut so that 48 runs fit the
# benchmark's time budget on a 4-core box (see perfbench/README.md).
# BATCH_PAGES stays at 1,000 because pairwise F1 drops to ~0.95 at 600.
BATCH_PAGES = 1000
LINK_EVENTS = 20_000
LINK_MENTIONS = 5_000
CRAWL_PAGES = 300
CRAWL_HOURS = 2
# score chunks of a batch run and of the crawl base run (RunConfig
# default 8; jobs/crawl_day_bench.py --score-chunks): every chunk is a
# read, score and commit of its own, a fixed cost at these sizes;
# absorbs write one scored delta per hour either way
BATCH_SCORE_CHUNKS = 1
BASE_SCORE_CHUNKS = 1
# forget every canonical-url group whose salted hash falls in 1/FORGET_MOD
FORGET_MOD = 10
# pairwise F1 reaches 0.99 at 6k pages; at BATCH_PAGES it varies with
# the seed (0.975-0.995 over seeds 11-30), so the gate catches broken
# resolution only
MIN_F1 = 0.95
COMPACT_TABLES = ("mentions", "mentions_vec", "scored_pairs")

LAYERS = ("extract", "vectorize", "block", "score", "cluster", "catalog",
          "incremental", "linking")
ENGINE = {  # per-layer engine metric -> (unit, better)
    "s": ("s", "lower"),
    "exec_run_s": ("s", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "python_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
    "jobs": ("count", "lower"),
}
COUNTERS = {  # data counters -> (unit, better)
    "extract.mentions": ("count", "higher"),
    "block.key_rows": ("count", "lower"),
    "block.cap_dropped": ("count", "lower"),
    "block.max_block": ("count", "lower"),
    "block.candidate_pairs": ("count", "lower"),
    "score.pairs": ("count", "lower"),
    "score.pairs_per_s": ("1/s", "higher"),
    "score.hot_frac": ("ratio", "lower"),
    "score.match_per_hot": ("ratio", "higher"),
    "cluster.edges": ("count", "higher"),
    "cluster.rounds": ("count", "lower"),
    "catalog.mb_written": ("MB", "lower"),
    "catalog.mb_read": ("MB", "lower"),
    "catalog.write_amp": ("ratio", "lower"),
    "incremental.touched_frac": ("ratio", "lower"),
    "incremental.delta_pairs": ("count", "lower"),
    "incremental.read_mb_per_absorb": ("MB", "lower"),
    "linking.prior_rows": ("count", "higher"),
    "linking.nil_frac": ("ratio", "lower"),
    # operation walls under tracing; minus the untraced run's values
    # (detail line) they give the tracing overhead
    "op.pages_per_s": ("1/s", "higher"),
    "op.run_s": ("s", "lower"),
    "op.link_s": ("s", "lower"),
    "op.mentions_linked_per_s": ("1/s", "higher"),
    "op.absorb_hour_s": ("s", "lower"),
    "op.forget_s": ("s", "lower"),
    "op.compact_s": ("s", "lower"),
}
END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "cycle_s": "s",
}


def layer_units() -> dict[str, tuple[str, str]]:
    out = {f"{layer}.{m}": ub for layer in LAYERS for m, ub in ENGINE.items()}
    out.update(COUNTERS)
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _digest(df, *cols) -> dict:
    """Order-independent digest of ``df``: row count and the XOR of a
    64-bit hash of every row's ``cols``."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("xor"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "xor": int(row["xor"])}


class Workload:
    """One workload: ``setup`` (untimed), ``cycle`` (timed, repeated),
    ``check`` (untimed, after the timed region)."""

    def __init__(self, spark, seed: int, work: str, check: bool = False):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.check_mode = check
        self.ops: list[dict] = []  # one entry per timed operation
        self.outputs: dict = {}  # what the program produced: digests, counts
        self.setup_phases: dict[str, float] = {}
        self.n_cycles = 0

    def _phase(self, name: str) -> None:
        """Stamp the end of a set-up phase (process age, detail line)."""
        self.setup_phases[name] = process_age_s()

    def _timed(self, op: str, cycle: int, fn, **info):
        """Run one timed operation; ``s`` is its steal-corrected wall
        (box.Stopwatch), ``wall_s`` the raw one."""
        sw = Stopwatch()
        out = fn()
        wall, corrected, share = sw.read()
        self.ops.append({"op": op, "cycle": cycle, "s": corrected,
                         "wall_s": wall, "busy_share": share, **info})
        return out

    def _walls(self, op: str, cycle: int | None = None) -> list[float]:
        return [o["s"] for o in self.ops
                if o["op"] == op and (cycle is None or o["cycle"] == cycle)]

    def attempted(self) -> int:
        return len(self.ops)

    def units(self) -> dict[str, str]:
        return {**END_TO_END, **{k: u for k, (u, _) in layer_units().items()}}

    def layer_metrics(self, harvest: dict) -> dict[str, float]:
        """Per-layer engine metrics from the trace, data counters and
        traced operation walls; 0 where the layer did no work."""
        n = max(self.n_cycles, 1)
        out = {}
        for layer in LAYERS:
            got = harvest["layers"].get(layer, {})
            for m in ENGINE:
                v = got.get(m, 0.0)
                out[f"{layer}.{m}"] = v if m == "task_skew" else v / n
        out.update({k: 0.0 for k in COUNTERS})
        out.update(self.counters(harvest))
        return out

    @staticmethod
    def _check(op: str, name: str, ok: bool, value=None) -> dict:
        return {"op": op, "name": name, "ok": bool(ok), "value": value}


class BatchResolve(Workload):
    def setup(self) -> None:
        from el.fixtures import gen_web_pages
        from el.pipeline import PipelineConfig, mentions_stage
        from el.tfidf import TfidfModel

        spark, cfg = self.spark, PipelineConfig(use_topics=False)
        self.cfg = cfg
        self._phase("spark")
        self.pages = gen_web_pages(spark, BATCH_PAGES, seed=self.seed)
        self.pages = self.pages.localCheckpoint(eager=True)
        self._phase("corpus")
        # the fit-once model artifact every timed run loads
        mentions = mentions_stage(self.pages, cfg).localCheckpoint(eager=True)
        self._phase("extract")
        self.model_dir = os.path.join(self.work, "models")
        TfidfModel.fit(
            mentions, "context", max_fit_docs=cfg.fit_sample_max
        ).save(os.path.join(self.model_dir, "tfidf"))
        self._phase("tfidf")
        self.n_aliases = 30 + self.seed % 20
        self.runs: list[tuple] = []
        self.links: list[tuple] = []

    def cycle(self) -> None:
        from el.catalog import HadoopParquetCatalog
        from el.runner import RunConfig, run_checkpointed

        k = self.n_cycles
        self.n_cycles += 1
        cat = HadoopParquetCatalog(os.path.join(self.work, f"batch{k}"))
        rc = RunConfig(run_id=f"batch{k}", n_score_chunks=BATCH_SCORE_CHUNKS,
                       pipeline=self.cfg, model_dir=self.model_dir)
        out = self._timed("run", k, lambda: run_checkpointed(
            self.spark, self.pages, cat, rc), pages=BATCH_PAGES)
        self.runs.append((cat, out))
        self.links.append(self._timed("link", k, self._link,
                                      mentions=LINK_MENTIONS))

    def _link(self):
        """Anchor extraction -> alias_prior -> resolve_links, fully
        materialized (the el.linkrun chain without its evaluation)."""
        from el.extract import anchor_alias_stats, extract_anchor_texts
        from el.linking import alias_prior, resolve_links
        from el.linkrun import anchor_corpus, mention_corpus

        pages = anchor_corpus(self.spark, LINK_EVENTS, self.n_aliases)
        stats = anchor_alias_stats(
            extract_anchor_texts(pages, html_col="page_html", id_col="page_id"),
            src_col="page_id",
        ).localCheckpoint()
        prior = alias_prior(stats)
        mentions = mention_corpus(self.spark, LINK_MENTIONS, self.n_aliases)
        resolved = resolve_links(
            mentions.select("mention_id", "surface"), prior
        ).localCheckpoint()
        return prior, mentions, resolved

    def end_to_end(self) -> dict[str, float]:
        return {
            "pages_per_s": _median([BATCH_PAGES / s for s in self._walls("run")]),
            "cycle_s": _median([
                sum(self._walls("run", k) + self._walls("link", k))
                for k in range(self.n_cycles)
            ]),
        }

    def check(self) -> list[dict]:
        from el.evaluate import linking_eval, pairwise_scores, primary_clusters
        from el.fixtures import gen_labeled_pairs

        checks = []
        digests = []
        for k, (cat, out) in enumerate(self.runs):
            op = f"run#{k}"
            rep = out["report"]
            d = _digest(out["clusters"], "mention_id", "cluster_id")
            d["clusters"] = out["clusters"].select("cluster_id").distinct().count()
            d["pairs"] = rep["scored_pairs"]["rows"]
            digests.append(d)
            checks += [
                self._check(op, "cluster_rows_eq_mentions",
                            d["rows"] == rep["mentions"]["rows"] > 0,
                            [d["rows"], rep["mentions"]["rows"]]),
                self._check(op, "scored_eq_candidates",
                            d["pairs"] == rep["candidate_pairs"]["rows"] > 0,
                            [d["pairs"], rep["candidate_pairs"]["rows"]]),
                self._check(op, "digest_repeats", d == digests[0], d),
            ]
            if k == 0:
                labeled = gen_labeled_pairs(self.spark, BATCH_PAGES, self.seed)
                ev = pairwise_scores(
                    labeled, primary_clusters(out["clusters"], out["mentions"])
                )
                checks.append(self._check(op, "pairwise_f1", ev["f1"] >= MIN_F1,
                                          ev["f1"]))
        self.outputs["batch"] = digests[0] if digests else None

        n_nil = -(-LINK_MENTIONS // 13)  # every 13th mention has no alias
        evals = []
        for k, (_, mentions, resolved) in enumerate(self.links):
            op = f"link#{k}"
            gold = mentions.select("mention_id", F.col("gold_entity").alias("entity"))
            ev = linking_eval(resolved, gold).collect()[0].asDict()
            evals.append(ev)
            checks += [
                self._check(op, "resolved_rows_eq_mentions",
                            resolved.count() == LINK_MENTIONS),
                self._check(op, "eval_invariants",
                            ev["n_mentions"] == LINK_MENTIONS
                            and ev["kb_p"] == 1.0 and ev["nil_r"] == 1.0
                            and ev["n_correct_nil"] == n_nil, ev),
                self._check(op, "eval_repeats", ev == evals[0]),
            ]
        self.outputs["link"] = {"n_aliases": self.n_aliases,
                                "eval": evals[0] if evals else None}
        return checks

    def counters(self, harvest: dict) -> dict[str, float]:
        from el.pipeline import skew_capped_keys

        cat, out = self.runs[0]
        rep = out["report"]
        sc = self.cfg.scoring
        jw_gate = (sc.t_name - sc.jw_weight) / (1.0 - sc.jw_weight)
        stats = skew_capped_keys(cat.read(self.spark, "block_keys"), self.cfg)[1]
        cap = stats.agg(F.sum("n_dropped").alias("d"),
                        F.max("n_members").alias("m")).collect()[0]
        sp = out["scored_pairs"].agg(
            F.sum((F.col("lev_sim") >= jw_gate).cast("long")).alias("hot"),
            F.sum(((F.col("lev_sim") >= jw_gate) & F.col("is_match"))
                  .cast("long")).alias("hot_match"),
        ).collect()[0]
        pairs = rep["scored_pairs"]["rows"]
        score_s = harvest["layers"].get("score", {}).get("s", 0.0) / self.n_cycles
        prior, _, resolved = self.links[0]
        n_res = resolved.count()
        run_s, link_s = self._walls("run"), self._walls("link")
        return {
            "extract.mentions": rep["mentions"]["rows"],
            "block.key_rows": rep["block_keys"]["rows"],
            "block.cap_dropped": int(cap["d"] or 0),
            "block.max_block": int(cap["m"] or 0),
            "block.candidate_pairs": rep["candidate_pairs"]["rows"],
            "score.pairs": pairs,
            "score.pairs_per_s": pairs / score_s if score_s else 0.0,
            "score.hot_frac": (sp["hot"] or 0) / pairs if pairs else 0.0,
            "score.match_per_hot": (sp["hot_match"] or 0) / sp["hot"] if sp["hot"] else 0.0,
            "cluster.edges": rep["edges"]["rows"],
            "cluster.rounds": harvest["cc_rounds"] / self.n_cycles,
            **_catalog_counters(harvest, self.n_cycles, delta_only=False),
            "linking.prior_rows": prior.count(),
            "linking.nil_frac": resolved.where("is_nil").count() / n_res if n_res else 0.0,
            "op.pages_per_s": self.end_to_end()["pages_per_s"],
            "op.run_s": _median(run_s),
            "op.link_s": _median(link_s),
            "op.mentions_linked_per_s": _median([LINK_MENTIONS / s for s in link_s]),
        }


class CrawlDay(Workload):
    def setup(self) -> None:
        from el.catalog import HadoopParquetCatalog
        from el.fixtures import gen_web_pages
        from el.pipeline import PipelineConfig
        from el.runner import RunConfig, run_checkpointed
        from el.textops import canonicalize_url

        spark = self.spark
        self._phase("spark")
        # hours share no canonical url and hold equal numbers of
        # canonical-url groups (groups in hash order, cut in CRAWL_HOURS
        # equal runs), so pages per hour barely vary with the seed
        h = F.xxhash64(canonicalize_url(F.col("url")))
        pages = gen_web_pages(spark, CRAWL_PAGES, seed=self.seed).select(
            "*", h.alias("_h"),
        ).localCheckpoint(eager=True)
        rows = pages.select(
            "url", "_h", F.xxhash64("_h", F.lit("forget")).alias("_f")
        ).collect()
        groups = sorted({r["_h"] for r in rows})
        cuts = [groups[k * len(groups) // CRAWL_HOURS] for k in range(1, CRAWL_HOURS)]
        hour = sum((F.col("_h") >= c).cast("int") for c in cuts)
        self.hours = [pages.where(hour == k).drop("_h") for k in range(CRAWL_HOURS)]
        hour_of = [bisect.bisect_right(cuts, r["_h"]) for r in rows]
        self.hour_pages = [hour_of.count(k) for k in range(CRAWL_HOURS)]
        # the forget slice: every url of the canonical-url groups whose
        # salted hash falls in 1/FORGET_MOD, among the absorbed hours
        self.forget_list = sorted({
            r["url"] for r, k in zip(rows, hour_of)
            if k > 0 and r["_f"] % FORGET_MOD == 0
        })
        self._phase("corpus")
        # the crawl_day_bench configuration minus its WARC round trip
        # (set-up only, and a sixth of a run): hygiene gate on, topics off
        self.cfg = PipelineConfig(
            use_lsh=True, use_topics=False, canonical_url_dedup=True,
            min_distinct_word_ratio=0.05, max_dup_2gram=0.9,
        )
        self.rc = RunConfig(run_id="day0", n_score_chunks=BASE_SCORE_CHUNKS,
                            pipeline=self.cfg,
                            model_dir=os.path.join(self.work, "models"))
        base = HadoopParquetCatalog(os.path.join(self.work, "crawl_base"))
        run_checkpointed(spark, self.hours[0], base, self.rc)
        self._phase("base_run")
        self.base_root = base.root
        self.base_mentions = base.manifest("mentions")["total_rows"]
        self.cycles: list[dict] = []

    def cycle(self) -> None:
        from el.catalog import HadoopParquetCatalog
        from el.incremental import compact_deltas, forget_urls, incremental_update

        k = self.n_cycles
        self.n_cycles += 1
        root = os.path.join(self.work, f"crawl{k}")
        shutil.copytree(self.base_root, root)
        cat = HadoopParquetCatalog(root)
        spark, rc = self.spark, self.rc
        reports = []
        for h in range(1, CRAWL_HOURS):
            out = self._timed("absorb", k, lambda: incremental_update(
                spark, self.hours[h], cat, rc), pages=self.hour_pages[h])
            reports.append(out["report"])
        missing = self._batch_pairs_missing(cat, k) if self.check_mode else None
        urls = spark.createDataFrame([(u,) for u in self.forget_list], "url string")
        forget = self._timed("forget", k, lambda: forget_urls(spark, cat, urls, rc))
        self._timed("compact", k, lambda: [
            compact_deltas(spark, cat, t, run_id=rc.run_id) for t in COMPACT_TABLES
        ])
        self.cycles.append({"cat": cat, "absorbs": reports, "forget": forget,
                            "batch_pairs_missing": missing})

    def _batch_pairs_missing(self, cat, k: int) -> int:
        """Untimed check mode: pairs of one batch run over the whole day
        that the absorbed catalog lacks (must be 0)."""
        from el.catalog import HadoopParquetCatalog
        from el.incremental import _scored_pair_tables
        from el.runner import RunConfig, run_checkpointed

        day = self.hours[0]
        for h in self.hours[1:]:
            day = day.unionByName(h)
        full = HadoopParquetCatalog(os.path.join(self.work, f"crawl_full{k}"))
        run_checkpointed(self.spark, day, full, RunConfig(
            run_id="dayfull", pipeline=self.cfg, model_dir=self.rc.model_dir))
        _, inc = _scored_pair_tables(self.spark, cat)
        _, bat = _scored_pair_tables(self.spark, full)
        return (bat.select("a_id", "b_id")
                .join(inc.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti")
                .count())

    def end_to_end(self) -> dict[str, float]:
        rates, cycles = [], []
        for k in range(self.n_cycles):
            absorbs = [o for o in self.ops if o["op"] == "absorb" and o["cycle"] == k]
            rates.append(sum(o["pages"] for o in absorbs) / sum(o["s"] for o in absorbs))
            cycles.append(sum(o["s"] for o in self.ops if o["cycle"] == k))
        return {"pages_per_s": _median(rates), "cycle_s": _median(cycles)}

    def check(self) -> list[dict]:
        checks, digests = [], []
        for k, c in enumerate(self.cycles):
            cat, forget = c["cat"], c["forget"]
            for i, rep in enumerate(c["absorbs"]):
                checks.append(self._check(f"absorb#{k}.{i}", "absorbed_new_mentions",
                                          rep["new_mentions"] > 0, rep["new_mentions"]))
            ingested = self.base_mentions + sum(r["new_mentions"] for r in c["absorbs"])
            kept = ingested - forget["forgotten_mentions"]
            checks.append(self._check(
                f"forget#{k}", "clusters_eq_ingested_minus_forgotten",
                forget["total_mentions"] == kept and forget["forgotten_mentions"] > 0,
                [forget["total_mentions"], ingested, forget["forgotten_mentions"]]))
            gone = cat.read(self.spark, "forgotten_mentions").select("mention_id")
            clusters = cat.read(self.spark, "clusters")
            scored = cat.read(self.spark, "scored_pairs_all")
            leaked = (
                clusters.join(gone, "mention_id", "left_semi").count()
                + scored.join(gone.withColumnRenamed("mention_id", "a_id"),
                              "a_id", "left_semi").count()
                + scored.join(gone.withColumnRenamed("mention_id", "b_id"),
                              "b_id", "left_semi").count()
            )
            mentions = cat.read(self.spark, "mentions").count()
            checks.append(self._check(
                f"compact#{k}", "no_forgotten_ids_after_compaction",
                leaked == 0 and mentions == kept, [leaked, mentions, kept]))
            d = _digest(clusters, "mention_id", "cluster_id")
            d["pairs"] = scored.count()
            digests.append(d)
            checks.append(self._check(f"compact#{k}", "digest_repeats",
                                      d == digests[0], d))
            if c["batch_pairs_missing"] is not None:
                checks.append(self._check(
                    f"absorb#{k}.{len(c['absorbs']) - 1}",
                    "batch_pairs_missing_from_incremental",
                    c["batch_pairs_missing"] == 0, c["batch_pairs_missing"]))
        self.outputs["crawl"] = {
            "hour_pages": self.hour_pages,
            "base_mentions": self.base_mentions,
            "forget_urls": len(self.forget_list),
            "absorbs": [{k: v for k, v in r.items() if k != "wall_sec"}
                        for r in self.cycles[0]["absorbs"]] if self.cycles else None,
            "final": digests[0] if digests else None,
        }
        return checks

    def counters(self, harvest: dict) -> dict[str, float]:
        from el.pipeline import skew_capped_keys

        n = self.n_cycles
        c = self.cycles[0]
        cat, reps = c["cat"], c["absorbs"]
        sc = self.cfg.scoring
        jw_gate = (sc.t_name - sc.jw_weight) / (1.0 - sc.jw_weight)
        stats = skew_capped_keys(cat.read(self.spark, "block_keys"), self.cfg)[1]
        cap = stats.agg(F.sum("n_dropped").alias("d"),
                        F.max("n_members").alias("m")).collect()[0]
        sp = cat.read(self.spark, "scored_pairs_all").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("lev_sim") >= jw_gate).cast("long")).alias("hot"),
            F.sum(F.col("is_match").cast("long")).alias("match"),
            F.sum(((F.col("lev_sim") >= jw_gate) & F.col("is_match"))
                  .cast("long")).alias("hot_match"),
        ).collect()[0]
        delta_pairs = sum(r["delta_pairs_scored"] for r in reps)
        score_s = harvest["layers"].get("score", {}).get("s", 0.0) / n
        absorb_s = self._walls("absorb")
        absorb_in = [r for r in harvest["roots"] if r["name"].endswith("incremental_update")]
        return {
            "extract.mentions": sum(r["new_mentions"] for r in reps),
            "block.key_rows": sum(r["touched_key_rows"] for r in reps),
            "block.cap_dropped": int(cap["d"] or 0),
            "block.max_block": int(cap["m"] or 0),
            "score.pairs": delta_pairs,
            "score.pairs_per_s": delta_pairs / score_s if score_s else 0.0,
            "score.hot_frac": (sp["hot"] or 0) / sp["n"] if sp["n"] else 0.0,
            "score.match_per_hot": (sp["hot_match"] or 0) / sp["hot"] if sp["hot"] else 0.0,
            "cluster.edges": int(sp["match"] or 0),
            "cluster.rounds": harvest["cc_rounds"] / n,
            **_catalog_counters(harvest, n, delta_only=True),
            "incremental.touched_frac": (
                sum(r["touched_key_rows"] for r in reps)
                / sum(r["combined_key_rows"] for r in reps)),
            "incremental.delta_pairs": delta_pairs,
            "incremental.read_mb_per_absorb": (
                _median([r["input_mb"] for r in absorb_in])),
            "op.pages_per_s": self.end_to_end()["pages_per_s"],
            "op.absorb_hour_s": _median(absorb_s),
            "op.forget_s": _median(self._walls("forget")),
            "op.compact_s": _median(self._walls("compact")),
        }


def _catalog_counters(harvest: dict, n_cycles: int, delta_only: bool) -> dict:
    """Catalog bytes written and read per cycle. write_amp's base is the
    bytes of the tables that carry new data: every committed table for
    a batch run, the ``*_delta_*`` tables for absorbs."""
    writes = harvest["writes"]
    written = sum(w["bytes"] for w in writes)
    if delta_only:
        payload = sum(w["bytes"] for w in writes if "_delta_" in w["table"])
    else:  # each cycle commits every table once, into its own catalog
        payload = sum({w["table"]: w["bytes"] for w in writes}.values()) * n_cycles
    return {
        "catalog.mb_written": written / 1e6 / n_cycles,
        "catalog.mb_read": harvest["input_mb"] / n_cycles,
        "catalog.write_amp": written / payload if payload else 0.0,
    }


WORKLOADS = {"batch_resolve": BatchResolve, "crawl_day": CrawlDay}
