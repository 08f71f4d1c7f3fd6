#!/usr/bin/env python
"""Benchmark harness (driver-run per round).

Runs the headline relational queries over the driver testdata at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) plus the full
entity-resolution pipeline on the deterministic synthetic corpus
scaled to the same sf, on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON
line:

  {"metric": "bench_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "pipeline": {n_pages, n_mentions, n_pairs, pairs_per_sec, ...}}

Timing discipline: every query is materialized with a noop-format
write (full column evaluation — a bare count() would let Catalyst
prune projection work); one warm-up action absorbs JVM/Python-worker
startup so per-query numbers measure the plan, not the fork.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# headline operator queries (from el.queries.REGISTRY) benched per round
HEADLINE = [
    "a1_pricing_summary",
    "j1_selfjoin_docs_lang",
    "j3_broadcast_nation_counts",
    "j6_range_join_parts",
    "w1_per_block_cap",
    "p4_latest_event_per_user",
    "f10_events_per_day",
]
# added as the op families land (dedup / similarity / text analysis)
HEADLINE_OPTIONAL = [
    "dd1_exact_dedup_docs",
    "dd2_minhash_lsh_dedup",
    "dd3_simhash_dedup",
    # dd4/dd5's exact forms are quadratic-within-block small-scale
    # baselines (oracle-checked at sf0.01, not benched here); the
    # default block-then-verify scale paths ARE benched:
    "dd4b_ngram_jaccard_minhash",
    "ann1_cosine_topk",
    "ann2_lsh_topk",
    "ann3_ivf_topk",
    "ann4_sq_topk",
    "tx1_language_id",
    "tx2_quality_score",
    "tx5_winnow_fingerprints",
    # crawl-hygiene ops + oracled CC kernel (r3)
    "tx6_url_canonicalize",
    "tx7_repetition_stats",
    "dd6_chunk_exact_dedup",
    "j7_connected_components",
    # two-table record linkage (r3)
    "lk1_link_part_names",
    "a4_grouped_vector_centroid",
    "f5_jaro_winkler_parts",
    "st2_tumbling_window_counts",
    "st3_session_window_counts",
    # late-r3: span-level dedup, bloom prune join, WARC interchange
    "dd9_shared_span_pairs",
    "j9_bloom_semi_orders",
    "s7_warc_roundtrip",
    # r4: benchmark decontamination + corpus bigram-rarity quality
    "dc1_benchmark_contamination",
    "lm1_bigram_rarity",
    # r5: boilerplate-strip rewrite + weighted corpus mixing + web-graph
    # centrality (g1 is 10 fixed-size rounds: the wall is round
    # orchestration, like j7 — the 100 TB cost model is per-round
    # shuffle volume, not this toy graph)
    "dd10_strip_boilerplate",
    "ds5_weighted_mixture",
    "g1_pagerank",
    # late-r5: HITS hubs/authorities — same per-round shuffle shape
    # as g1, two half-steps per iteration
    "g3_hits",
    # late-r5: web-graph link extraction + host-level corpus ledger
    # (both scan-stage projections/one-agg rollups — cheap entries
    # that pin the web-graph construction path's wall)
    "g0_extract_links",
    "tx12_host_stats",
    "tx13_blocklist_filter",
    "ds6_decontaminated_split",
    # late-r5: C4 line-level cleaning (scan-stage projection over the
    # dual-engine-synthesized multi-line pages — pins the line-rule
    # rewrite's wall next to the other tx-family hygiene ops) and the
    # anchor-alias name-prior rollup (scan-stage anchor extraction +
    # one (host, alias) hash aggregate)
    "tx14_c4_clean",
    "g2_anchor_alias_stats",
    # late-r5: deterministic epoch shuffle (one hash exchange +
    # per-shard sort over the documents table — pins the training
    # data-loader layout's wall)
    "ds7_epoch_shuffle",
    # late-r5: temporal embargo split (pure projection — pins the
    # time-axis split-family scan wall)
    "ds9_temporal_split",
    # late-r5: the two-signal entity linker — el1 pins the anchor
    # extraction -> prior -> broadcast linking join wall, el2 the
    # candidate x profile JVM-cosine re-rank
    "el1_alias_prior_linking",
    "el2_context_linking",
    # late-r5: NIL-aware final linking decision — pins the left-total
    # mention-keyed decision join on top of el1's broadcast chain
    "el3_nil_resolution",
    # late-r5: collective TAGME voting — pins the within-document
    # voter x target equi-join + relatedness broadcast + integer
    # vote aggregate (the coherence signal's wall)
    "el5_vote_rerank",
    # late-r5: Fellegi-Sunter probabilistic linkage — pins the exact
    # value-frequency u-estimation aggregates + the per-pair Bayes
    # factor projection (lk6 adds the per-value TF-adjusted form:
    # same aggregates one level finer + a broadcast join per field)
    "lk2_fellegi_sunter",
    "lk6_fs_tf_adjusted",
    # late-r5: sorted-neighborhood blocking — pins the range-partition
    # global rank (no single-partition window) + successor equi-join
    "snm1_sorted_neighborhood",
    # late-r5: Monge-Elkan token-set similarity — pins the batched
    # token-cross-product JW kernel (two Arrow passes, fence-audited)
    "f13_monge_elkan",
    # late-r5: meta-blocking (block purge + WEP edge pruning over the
    # token-prefix postings self-join), golden-record fusion (reused
    # cluster-key exchange), and the EM pattern-counts groupBy (lk3's
    # corpus-sized step)
    "mb1_meta_blocking",
    "mb2_meta_blocking_wnp",
    "mb3_meta_blocking_cnp",
    "mb4_meta_blocking_cep",
    # late-r5: one-to-one assignment — pins the two-exchange
    # mutual-best-match wall over the nation-blocked candidate graph
    "lk4_mutual_best_match",
    # late-r5: iterated greedy matching — pins the per-round residual
    # anti-join + localCheckpoint orchestration (2 rounds)
    "lk5_greedy_matching",
    "fu1_golden_record",
    "lk3_gamma_patterns",
    # late-r5 cluster audit: cohesion/bridge detection + the
    # cross-cluster missed-merge rollup (two id-keyed equi-joins +
    # cluster-key groupBys)
    "er6_cluster_cohesion",
    "er7_cross_cluster_edges",
    # late-r5: EXACT prefix-filter set-similarity self-join (AllPairs/
    # PPJoin) — the no-LSH exact counterpart to dd4b; pins the
    # df-ordered prefix index + size-ratio prune + array_intersect
    # verify wall (6.8 s warm at sf0.1, same class as dd4b)
    "dd11_prefix_filter_jaccard",
    # late-r5: binned interval-overlap join — pins the bin-explode +
    # (key, bin) equi-join wall (2.75M overlap pairs in 1.2 s warm at
    # sf0.1; the theta-join form would be BNLJ-quadratic per key)
    "j10_interval_overlap_join",
    # late-r5: correlation clustering by hash-priority pivots
    # (KwikCluster) — pins the per-round locally-minimal-pivot MIS
    # orchestration + the final min-pivot assignment join, the
    # precision-side counterpart to j7's closure
    "cl1_pivot_clustering",
]


def _dd5b_prod(spark, sf_dir):
    """dd5b in its PRODUCTION configuration. With
    multi-probe (r3) the production config at the fixture's low 0.4
    threshold is planes=3/tables=8/probe_bits=1 — measured at sf0.1:
    all 920 true pairs recovered (recall 1.0; false positives 0 —
    verify is exact) in 6.8 s vs 9.3 s for the plain 3/16 form, which
    misses 3 pairs. The high-threshold regime (0.95, planes=8/
    tables=16, recall 1.0) is pinned separately in
    tests/test_dedup.py."""
    from el.dedup import embedding_neardup_pairs
    from el.io import load_table

    return embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        method="lsh",
        n_planes=3,
        n_tables=8,
        probe_bits=1,
    )


def _ann3_prefit(spark, sf_dir):
    """ann3 on the PRODUCTION artifact path: the
    coarse quantizer is a fit-once PERSISTED model — `IvfModel.
    fit_or_load` writes centroids.npy+meta.json under a `_models`-
    style dir on first touch and every later call (including every
    bench rep) loads the committed artifact, exactly like TF-IDF/LDA
    in the runner. min-of-reps therefore reports the fit-free query
    wall; the registry entry's per-call k-means refit is the fit tax,
    measured separately."""
    import os

    from el.io import load_table
    from el.similarity import IvfModel
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    # Cache discipline: the artifact lives under a fresh
    # per-RUN private dir (never a shared world-writable /tmp path a
    # stale or hostile run could pre-populate), and the tag is keyed
    # on the DATA-FILE listing — relpath + size + mtime_ns of every
    # file under the parquet path — because a directory's own stat
    # does not track in-place rewrites of same-named part files.
    # Within one bench run, rep 1 fits and commits, later reps load:
    # min-of-reps reports the fit-free production query wall.
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    mdir = os.path.join(_run_scratch_dir(), f"ivf_{_data_tag(src)}")
    model = IvfModel.fit_or_load(emb, mdir)
    return model.topk(emb, emb.where(F.col("vec_id") < 5), k=10, nprobe=2)


def _data_tag(src: str) -> str:
    """Artifact-cache key for a parquet path: md5 over the DATA-FILE
    listing (relpath + size + mtime_ns of every file under it), not
    the directory stat — a dir's own mtime/size does not track
    in-place rewrites of same-named part files."""
    import hashlib
    import os

    entries = []
    if os.path.isdir(src):
        for root, _, files in os.walk(src):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    f"{os.path.relpath(p, src)}:{st.st_size}:{st.st_mtime_ns}"
                )
    else:
        st = os.stat(src)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(sorted(entries)).encode()).hexdigest()[:12]


def _lm1_prefit(spark, sf_dir):
    """lm1 on the PRODUCTION artifact path: the corpus
    bigram-counts table is a fit-once persisted model (BigramCounts-
    Model, the IvfModel discipline) — rep 1 fits and commits, later
    reps load, so min-of-reps reports the fit-free scoring wall; the
    registry entry's fit-every-call form is the fit tax, measured
    separately."""
    import os

    from el.io import load_table
    from el.textops import BigramCountsModel

    docs = load_table(spark, sf_dir, "documents")
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    mdir = os.path.join(_run_scratch_dir(), f"lm1_{_data_tag(src)}")
    model = BigramCountsModel.fit_or_load(spark, docs, mdir)
    return model.score(docs)


_RUN_SCRATCH: list[str] = []


def _run_scratch_dir() -> str:
    """One private scratch dir per bench process (mode 0700 from
    mkdtemp), removed at interpreter exit — model artifacts never
    cross runs or users, and none outlive the run."""
    import atexit
    import shutil
    import tempfile

    if not _RUN_SCRATCH:
        d = tempfile.mkdtemp(prefix="el_bench_models_")
        atexit.register(shutil.rmtree, d, True)
        _RUN_SCRATCH.append(d)
    return _RUN_SCRATCH[0]


def _mm_pipeline(spark, sf_dir):
    """Multimodal decode->resize->features throughput at 20k blobs
    (the registry mm2/mm3 checks run 300-blob correctness versions;
    this measures the pipeline at a bench-scale blob count)."""
    from pyspark.sql import functions as F

    from el.multimodal import gen_blobs, image_features, resize_images

    thumbs = resize_images(gen_blobs(spark, 20_000), out_w=16, out_h=16)
    return image_features(
        thumbs.where(F.col("valid")).select("blob_id", "content")
    )


def _mm7_audio_neardup_20k(spark, sf_dir):
    """Audio fingerprint + banded near-dup at 20k AUD1 blobs (the
    registry mm7 check runs a 300-blob correctness version with
    planted gain-scaled copies; this pins the decode->envelope->band
    kernel's wall at a bench-scale blob count — the decode pass
    dominates, only (id, 8-byte sketch) shuffles)."""
    from el.multimodal import audio_neardup_pairs, gen_audio_blobs

    return audio_neardup_pairs(gen_audio_blobs(spark, 20_000))


def _linkjob_resolve_40k(spark, sf_dir):
    """The jobs/run_linking.py chain at bench scale: 40k anchor pages
    -> extracted alias evidence -> commonness prior -> NIL-aware
    resolution of 20k mentions (el1 + el3 composed over the
    el.linkrun corpora; 80 aliases keep the per-alias link count even
    so the planted 50/50 ties are exact). Returns the resolved-mention
    frame — the expensive part; the 1-row TAC-KBP eval is pinned by
    test_linkrun.py. The anchor-extraction scan dominates; after the
    one (host, alias) aggregate everything is catalog-sized."""
    from el.extract import anchor_alias_stats, extract_anchor_texts
    from el.linking import alias_prior, resolve_links
    from el.linkrun import anchor_corpus, mention_corpus

    pages = anchor_corpus(spark, 40_000, 80)
    stats = anchor_alias_stats(
        extract_anchor_texts(pages, html_col="page_html", id_col="page_id"),
        src_col="page_id",
    )
    prior = alias_prior(stats)
    mentions = mention_corpus(spark, 20_000, 80).select(
        "mention_id", "surface"
    )
    return resolve_links(mentions, prior)


def _ds8_prod(spark, sf_dir):
    """ds8 in its PRODUCTION configuration: the registry/oracle entry
    composes dd7's exact lang-blocked clustering (quadratic within
    blocks — the oracle truth regime, like dd4/dd5's exact forms it
    is NOT benched at sf0.1); production uses the linear
    minhash-candidate path with the default hot-bucket cap, then the
    same cluster-keyed exchange-free hash split."""
    from el.datasets import leakage_safe_split
    from el.dedup import neardup_doc_clusters
    from el.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    nd = neardup_doc_clusters(docs, n=2, threshold=0.5, method="minhash")
    return leakage_safe_split(
        docs, nd, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split_key", "split")


# benched with non-REGISTRY configs (production regime vs oracle regime)
EXTRA = {
    "ds8_leakage_safe_split_prod": _ds8_prod,
    "dd5b_embedding_neardup_lsh_prod": _dd5b_prod,
    "ann3_ivf_topk_prefit": _ann3_prefit,
    "lm1_bigram_rarity_prefit": _lm1_prefit,
    "mm_decode_resize_features_20k": _mm_pipeline,
    "mm7_audio_neardup_20k": _mm7_audio_neardup_20k,
    "linkjob_resolve_40k": _linkjob_resolve_40k,
}

PAGES_PER_SF = 60_000  # synthetic corpus size per unit sf


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_pipeline(spark, sf: float) -> tuple[dict, dict]:
    """Pipeline entries from the executor's per-stage report: each
    stage is materialized inside its own timing, so every entry holds
    only its own stage's work."""
    import tempfile

    from el.fixtures import gen_web_pages
    from el.pipeline import PipelineConfig, hygiene_stage, mentions_stage
    from el.runner import RunConfig, _fit_or_load_models, execute

    n_pages = max(600, int(sf * PAGES_PER_SF))
    times: dict[str, float] = {}
    info: dict[str, float | int] = {"n_pages": n_pages}

    t = time.time()
    pages = gen_web_pages(spark, n_pages).persist()
    pages.count()
    times["pipeline_gen"] = round(time.time() - t, 3)

    # crawl-hygiene ingest gate, measured standalone with every knob
    # on (canonical-url dedup window + inline zero-shuffle repetition
    # filters); thresholds chosen to pass the curated corpus through,
    # so this measures the gate's cost, not a different corpus
    t = time.time()
    _materialize(
        hygiene_stage(
            pages,
            PipelineConfig(
                canonical_url_dedup=True,
                min_distinct_word_ratio=0.05,
                max_dup_2gram=0.98,
            ),
        )
    )
    times["pipeline_hygiene"] = round(time.time() - t, 3)

    # model fit is its OWN entry: production runs fit once and load
    # persisted artifacts, so the stage entries below measure the
    # fit-once path (loading from a fresh model dir) and the refit
    # cost is reported separately
    rc = RunConfig(
        pipeline=PipelineConfig(),
        model_dir=tempfile.mkdtemp(prefix="pipeline_", dir=_run_scratch_dir()),
    )
    mentions = mentions_stage(pages, rc.pipeline).localCheckpoint(eager=True)
    t = time.time()
    _fit_or_load_models(spark, mentions, None, rc)
    times["pipeline_refit"] = round(time.time() - t, 3)

    out = execute(spark, pages, rc)
    sec = {k: v["wall_ms"] / 1000.0 for k, v in out["report"].items()}
    times["pipeline_extract"] = round(sec["mentions"], 3)
    times["pipeline_vec_block"] = round(sec["mentions_vec"] + sec["block_keys"], 3)
    # r1/r2-comparable composite (extract + vectorize/bucket on the
    # fit-once path; refit excluded by design)
    times["pipeline_extract_block_fit"] = round(
        times["pipeline_extract"] + times["pipeline_vec_block"], 3
    )
    times["pipeline_pairs"] = round(sec["candidate_pairs"], 3)
    times["pipeline_score"] = round(sec["scored_pairs"], 3)
    times["pipeline_cluster"] = round(sec["edges"] + sec["clusters"], 3)
    info["n_mentions"] = out["report"]["mentions_vec"]["rows"]
    info["n_pairs"] = out["report"]["candidate_pairs"]["rows"]
    info["pairs_per_sec"] = round(
        out["report"]["scored_pairs"]["rows"] / max(sec["scored_pairs"], 1e-9), 1
    )
    info["n_clusters"] = out["clusters"].select("cluster_id").distinct().count()

    # exclude the composite (it re-counts extract + vec_block) from
    # the wall-clock sum
    total = sum(
        v for k, v in times.items() if k != "pipeline_extract_block_fit"
    )
    info["pages_per_sec"] = round(n_pages / max(total, 1e-9), 1)
    pages.unpersist()
    return times, info


def _steal_frac(interval: float = 1.0) -> float | None:
    """Fraction of CPU time the hypervisor stole from this VM over a
    short sampling window (/proc/stat col 8). Load average CANNOT see
    this — a box can report loadavg < 1 while 20%+ of its cycles are
    being stolen, which is exactly the regime that produced the
    pressured r4 artifact and two >1.6x-degraded r5 runs (mm kernel
    17.9 s vs 1.8 s quiet with load_start ~1.0). None on platforms
    without the counter."""
    a = _stat_snap()
    time.sleep(interval)
    return _steal_frac_between(a, _stat_snap())


def _stat_snap() -> list[int] | None:
    """Raw cumulative /proc/stat cpu counters (jiffies since boot),
    for whole-run steal accounting."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = list(map(int, parts[1:]))
        return vals if len(vals) >= 8 else None
    except (OSError, ValueError):
        return None


def _steal_frac_between(a: list[int] | None, b: list[int] | None) -> float | None:
    """Steal fraction over the full interval between two _stat_snap()
    snapshots. The 1-second start/end samples CANNOT see a steal
    episode that begins after warm-up and drains before the final
    stamp (observed: a 168 s run with steal_frac_start == end == 0.0
    whose Python-kernel entries ran 3-10x their quiet walls); the
    cumulative counters can."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return (d[7] / tot) if tot > 0 else 0.0


def _round4(x: float | None) -> float | None:
    return None if x is None else round(x, 4)


def _defer_under_load() -> dict:
    """Hold the bench start while the box is busy or being starved
    (a pressured window recorded 1.5-2.5x
    regressions on unchanged plans). Polls the 1-min load average AND
    the hypervisor steal fraction BEFORE the JVM exists and waits —
    bounded, logged — until both drop under their thresholds. The
    check runs only at start: once local[32] is working, loadavg
    measures the bench itself. Returns the stamp for the JSON line;
    ``steal_frac_start`` lets a reader adjudicate a slow artifact
    even when the wait budget was exhausted."""
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0"))
    max_steal = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "0.05"))
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_WAIT_MAX", "600"))
    waited = 0.0
    step = 10.0

    def busy():
        if os.getloadavg()[0] > max_load:
            return True
        s = _steal_frac()
        return s is not None and s > max_steal

    while busy() and waited < budget:
        time.sleep(step)
        waited += step
    return {
        "load_wait_sec": round(waited, 1),
        "load_wait_exhausted": waited >= budget,
        "load_max": max_load,
        "steal_frac_start": _round4(_steal_frac()),
        "steal_max": max_steal,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    load_stamp = _defer_under_load()
    # box-state stamp (BASELINE.md protocol), taken BEFORE the JVM
    # exists — once warm-up runs, loadavg measures the bench itself
    load_start = tuple(round(x, 2) for x in os.getloadavg())
    stat_start = _stat_snap()

    from el.conf import get_spark
    from el.queries import REGISTRY

    spark = get_spark(
        app_name="el-bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: absorb JVM startup AND fork the Arrow Python-worker
    # pool (a JVM-only warm-up leaves the first pandas-kernel query
    # paying ~2.5 s of worker spin-up — measured on dd2)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    def _identity(batches):
        for pdf in batches:
            yield pdf

    (
        spark.range(0, 32 * 1000, 1, 32)
        .mapInPandas(_identity, schema="id long")
        .write.format("noop").mode("overwrite").save()
    )

    # Noise discipline: this VM shows random multi-
    # second hypervisor vCPU stalls (BASELINE.md), so each operator
    # query runs `reps` times and reports the MIN — the same rejection
    # rule the scaling-kernel protocol uses. The pipeline stages stay
    # single-shot (they dominate the budget and checkpoint state).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    queries: dict[str, float] = {}
    t_all = time.time()
    named = [(n, REGISTRY[n].fn)
             for n in HEADLINE + [q for q in HEADLINE_OPTIONAL if q in REGISTRY]]
    named += list(EXTRA.items())
    # iteration aid: SPARK_GRAFT_BENCH_ONLY=comma,separated,names runs a
    # subset of the operator entries (and skips the pipeline stages)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        keep = {x.strip() for x in only.split(",") if x.strip()}
        named = [(n, f) for n, f in named if n in keep]
    for name, fn in named:
        best = float("inf")
        for _ in range(reps):
            t = time.time()
            _materialize(fn(spark, sf_dir))
            best = min(best, time.time() - t)
        queries[name] = round(best, 3)

    if only:
        pipe_times, pipe_info = {}, {"skipped": True}
    else:
        pipe_times, pipe_info = bench_pipeline(spark, sf)
    queries.update(pipe_times)

    # bench_total = sum of reported entries (min-of-reps per query +
    # single-shot pipeline stages, composite excluded) — comparable
    # across rounds regardless of the rep count; raw wall in "wall".
    total = round(
        sum(v for k, v in queries.items()
            if k != "pipeline_extract_block_fit"),
        3,
    )
    wall = round(time.time() - t_all, 3)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "reps": reps,
                "wall": wall,
                "load_avg_start": load_start,
                "load_avg_end": tuple(
                    round(x, 2) for x in os.getloadavg()
                ),
                "steal_frac_end": _round4(_steal_frac()),
                # cumulative steal over the WHOLE run — the stamp that
                # catches mid-run starvation episodes the 1 s start/end
                # samples miss entirely
                "steal_frac_run": _round4(
                    _steal_frac_between(stat_start, _stat_snap())
                ),
                **load_stamp,
                "pipeline": pipe_info,
            }
        )
    )


if __name__ == "__main__":
    main()
