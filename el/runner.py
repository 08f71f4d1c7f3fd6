"""The batch pipeline, defined once and executed once (SURVEY.md
§3.2-3.3, north_rule "resumable from checkpoint with per-partition
lineage + metrics").

``STAGES`` is the pipeline: an ordered list of named stages, each a
build function over the outputs of earlier stages. ``execute`` runs
the list and materializes every stage inside that stage's own timing,
so each report entry holds exactly its own work:

- with no catalog, ``localCheckpoint(eager=True)`` with the row count
  observed in flight (``_counted``, ``run_pipeline``);
- with a catalog, an atomic commit (``run_checkpointed``): the
  inter-stage IR is a committed table, never an in-memory plan, and
  ``resume`` re-opens committed stages as scans instead of
  recomputing them.

The scoring stage — the expensive one — is additionally chunked on
the catalog path into ``n_score_chunks`` deterministic hash buckets of
the pair set (``pmod(xxhash64(a_id, b_id), K)``); each chunk commits
independently, so a killed run resumes mid-stage, skipping the chunks
it committed with the same K and scoring only the remainder (pair
membership in a chunk is a pure function of the pair ids and K, so a
resume scores exactly the not-yet-done pairs). Chunk tables of an
earlier run with a larger K are dropped once the run's chunks commit.

Model artifacts (TF-IDF idf table, LDA topic model) are committed
under ``<root>/_models/<run_id>`` on first fit and RELOADED on resume
— refitting on a different partitioning could drift float reductions
and change buckets (SURVEY.md §4.4); persisted models make reruns and
cross-parallelism runs bit-stable. Without a catalog or model dir they
are fitted in memory.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from el import blocking
from el.catalog import HadoopParquetCatalog, load_or_fit
from el.clustering import clusters_of
from el.pipeline import (
    PipelineConfig,
    mentions_stage,
    raw_block_keys,
    skew_capped_keys,
)
from el.scoring import matched_edges, score_pairs
from el.tfidf import TfidfModel


@dataclass
class RunConfig:
    run_id: str = "run0"
    n_score_chunks: int = 8
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)
    # explicit model-artifact dir: share one fitted TF-IDF/LDA artifact
    # set across runs AND across cluster sizes (SURVEY.md §4.4 — the
    # scaling-evidence protocol fits once, then both parallelism
    # levels load the same artifacts)
    model_dir: str | None = None


def _models_dir(catalog: HadoopParquetCatalog | None, rc: "RunConfig") -> str | None:
    if rc.model_dir or catalog is None:
        return rc.model_dir
    return os.path.join(catalog.root, "_models", rc.run_id)


def _fit_or_load_models(
    spark: SparkSession,
    mentions: DataFrame,
    catalog: HadoopParquetCatalog | None,
    rc: RunConfig,
):
    """(tfidf, topics or None): loaded from the model dir when its
    artifacts are committed, else fitted on ``mentions`` (and saved
    when there is a model dir), through the one fit-once gate
    (``el.catalog.load_or_fit``). A corpus with no mentions fits no
    topic model — the relational stages handle empty inputs, but ml
    fits do not."""
    cfg = rc.pipeline
    mdir = _models_dir(catalog, rc)
    tfidf = load_or_fit(
        mdir and os.path.join(mdir, "tfidf"),
        TfidfModel.load,
        lambda: TfidfModel.fit(
            mentions, "context", max_fit_docs=cfg.fit_sample_max
        ),
    )
    topics = None
    if cfg.use_topics:
        from el.topics import TopicModel

        topics = load_or_fit(
            mdir and os.path.join(mdir, "topics"),
            lambda path: TopicModel.load(spark, path),
            lambda: None if mentions.isEmpty() else TopicModel.fit(
                spark,
                mentions,
                "context",
                max_iter=15,
                vocab_size=2048,
                max_fit_docs=cfg.fit_sample_max,
            ),
        )
    return tfidf, topics


def vectorize(mentions: DataFrame, tfidf: TfidfModel, topics) -> DataFrame:
    """The vectorize step shared by the batch stages and incremental
    absorb: TF-IDF vectors, then topic vectors when topics are on."""
    vec = tfidf.transform(mentions, "context", "tfidf")
    if topics is not None:
        vec = topics.transform(vec, "context", "topic_vec")
    return vec


def topic_buckets(mentions_vec: DataFrame, topics) -> DataFrame | None:
    """Topic-bucket block keys of vectorized mentions (None: topics off)."""
    return None if topics is None else topics.bucket_keys(mentions_vec)


# The batch pipeline: (name, build). ``t`` maps "pages", "cfg",
# "models" (a thunk returning (tfidf, topics)) and every earlier
# stage's materialized output. The builds look their operators up as
# module globals at call time, so a caller that patches a name here
# (perfbench/tracing.py) sees every call.
STAGES = (
    ("mentions", lambda t: mentions_stage(t["pages"], t["cfg"])),
    ("mentions_vec", lambda t: vectorize(t["mentions"], *t["models"]())),
    # the stored key table is the RAW (uncapped) key union — cap/salt
    # is a pair-generation-time policy, not a storage mutation, or
    # members dropped by one run's cap would be lost to every later
    # incremental re-cap (el.pipeline.raw_block_keys)
    ("block_keys", lambda t: raw_block_keys(
        t["mentions"], t["cfg"],
        topic_buckets(t["mentions_vec"], t["models"]()[1]),
    )),
    ("candidate_pairs", lambda t: blocking.candidate_pairs(
        skew_capped_keys(t["block_keys"], t["cfg"])[0]
    )),
    ("scored_pairs", lambda t: score_pairs(
        t["candidate_pairs"], t["mentions_vec"], t["cfg"].scoring
    )),
    ("edges", lambda t: matched_edges(t["scored_pairs"])),
    ("clusters", lambda t: clusters_of(t["mentions"], t["edges"])),
)
WRITE_KW = {"block_keys": {"partition_by": ["strategy"]}}
# the catalog path commits scored pairs as ``<prefix>NNN`` chunk tables
SCORE_CHUNK_PREFIX = "scored_chunk_"


def _observed_rows(df: DataFrame) -> tuple[DataFrame, Callable[[], int]]:
    """(``df`` with its row count observed in flight, a thunk returning
    it once an action has run a plan holding the frame). Spark ends the
    observation of a frame that plan pruned as empty with an empty row
    (no metrics), which the thunk reads as 0."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    return df, lambda: obs.get["rows"] if obs._jo.getRow().length() else 0


def _counted(df: DataFrame) -> tuple[DataFrame, int]:
    """(``df`` materialized by an eager localCheckpoint, its row count
    observed in flight: reporting it costs no extra Spark execution)."""
    df, rows = _observed_rows(df)
    return df.localCheckpoint(eager=True), rows()


def _score_chunked(spark, t, build, catalog, rc, resume):
    """Scoring as ``n_score_chunks`` independently committed chunks;
    returns (scored pairs, report entry)."""
    K = rc.n_score_chunks
    names = [f"{SCORE_CHUNK_PREFIX}{k:03d}" for k in range(K)]
    chunked = t["candidate_pairs"].withColumn(
        "_chunk", F.pmod(F.xxhash64("a_id", "b_id"), F.lit(K)).cast("int")
    )
    n_resumed = 0
    for k, name in enumerate(names):
        # a chunk hashed under another K holds other pairs: resume only
        # this run's chunks of the same K
        m = catalog.manifest(name) if resume else None
        if m and m["run_id"] == rc.run_id and m["n_chunks"] == K:
            n_resumed += 1
            continue
        chunk = chunked.where(F.col("_chunk") == k).drop("_chunk")
        catalog.write(build({**t, "candidate_pairs": chunk}), name,
                      run_id=rc.run_id, stage="scored_pairs",
                      extra={"n_chunks": K})
    # chunks of an earlier run with more chunks would join the
    # scored-pair view (el.incremental._base_tables)
    for table in catalog.tables(SCORE_CHUNK_PREFIX):
        if table not in names:
            catalog.drop(table)
    # row count from the chunk manifests: the report never re-scans
    # the corpus-sized chunk tables
    rows = sum(catalog.manifest(n)["total_rows"] for n in names)
    return catalog.read_all(spark, names), {
        "rows": rows,
        "resumed": n_resumed == K,
        "chunks_resumed": n_resumed,
        "chunks_total": K,
    }


def execute(
    spark: SparkSession,
    pages: DataFrame,
    rc: RunConfig,
    catalog: HadoopParquetCatalog | None = None,
    resume: bool = False,
) -> dict:
    """Run ``STAGES`` over ``pages``; returns {"report": {stage:
    {"rows", "wall_ms", "resumed"}}, <stage>: DataFrame, ...}.

    Prefit models reach it only through their artifact dir
    (``rc.model_dir``). On the catalog path every row count comes from
    a commit manifest, never from a scan."""
    report: dict[str, dict] = {}

    @functools.cache
    def get_models():
        return _fit_or_load_models(spark, t["mentions"], catalog, rc)

    t = {"pages": pages, "cfg": rc.pipeline, "models": get_models}
    for name, build in STAGES:
        t0 = time.time()
        if catalog is None:
            # localCheckpoint, NOT persist(): it cuts lineage, so a
            # later stage's plan starts at the materialized rows and
            # never re-plans or re-runs the Python kernels upstream
            df, rows = _counted(build(t))
            entry = {"rows": rows, "resumed": False}
        elif name == "scored_pairs":
            df, entry = _score_chunked(spark, t, build, catalog, rc, resume)
        elif resume and catalog.committed(name, rc.run_id):
            df = catalog.read(spark, name)
            entry = {"rows": catalog.manifest(name)["total_rows"], "resumed": True}
        else:
            m = catalog.write(build(t), name, run_id=rc.run_id, stage=name,
                              **WRITE_KW.get(name, {}))
            df = catalog.read(spark, name)
            entry = {"rows": m["total_rows"], "resumed": False}
        report[name] = {"wall_ms": int((time.time() - t0) * 1000), **entry}
        t[name] = df
    return {"report": report, **{name: t[name] for name, _ in STAGES}}


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    catalog: HadoopParquetCatalog,
    rc: RunConfig | None = None,
    resume: bool = False,
) -> dict:
    """Full pipeline with a commit per stage; returns
    {"report": {stage: {"rows", "wall_ms", "resumed"}}, <stage>:
    DataFrame, ..., "metrics": the catalog's lineage table}."""
    out = execute(spark, pages, rc or RunConfig(), catalog, resume)
    return {**out, "metrics": catalog.metrics(spark)}
