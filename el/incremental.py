"""Incremental entity resolution: absorb a NEW crawl batch into an
existing clustered corpus, scoring only the delta (north_rule
resumability discipline applied to the algorithm itself, not just to
crash recovery).

Mechanics (J4/J5 semi/anti-join ops from SURVEY.md §2.3):
1. gate the new batch's pages, drop urls already ingested (left_anti
   on the committed mentions table — append-only policy), then
   extract mentions from the fresh pages only;
2. vectorize with the PERSISTED TF-IDF/LDA artifacts (models are
   pipeline inputs — never refit on a delta, §4.4; missing artifacts
   are an ERROR, not a refit trigger);
3. re-derive block keys for new mentions, union with the committed
   key view, RE-CAP with the batch pipeline's skew policy (so hot
   blocks stay bounded across absorbed batches), then restrict to
   blocks TOUCHED by the delta (left_semi on the delta's distinct
   (strategy, block_key) set): an untouched block's member set is
   identical to the committed run's, so it cannot produce an unscored
   pair — the expensive pair self-join's input scales with the DELTA,
   not the corpus;
4. **delta = candidate pairs anti-joined against already-scored
   pairs** — only pairs touching the new batch (or newly co-blocked)
   reach the expensive scoring stage;
5. union scored tables, recompute connected components over the full
   edge set (edges are tiny relative to pairs; large-star/small-star
   converges in O(log n) rounds from scratch — incremental CC state
   is not worth the complexity at this edge density);
6. commit APPEND-ONLY: the corpus-sized tables (mentions,
   mentions_vec, block_keys — the RAW uncapped key union; cap/salt is
   a pair-generation-time policy, never a storage mutation — and
   scored pairs) each gain one ``<base>_delta_NNNN`` table per
   absorbed batch, committed where steps 1-4 build it (its one
   materialization; later steps scan it back) and all read back
   through one merge-on-read view (``_read_with_deltas``: base ∪
   marked deltas − tombstones) — commit I/O scales with the delta. The scored-pair base is
   ``scored_pairs_all`` once compacted, before that the chunked
   runner's ``scored_chunk_*`` tables (``_base_tables``). Only
   clusters (global CC output) is rewritten. ``compact_deltas``
   periodically folds the accumulated deltas back into one well-sized base
   snapshot (Iceberg ``rewrite_data_files``), with the watermark
   committed atomically inside the base manifest so folded rows are
   never readable twice.

Batch atomicity: a batch's delta tables commit as ONE unit
via a marker file ``_batch_NNNN.json`` written (atomic tmp+fsync+
rename) only AFTER every table write of the batch has committed.
``_read_with_deltas``/``_delta_names`` only surface marker-covered
deltas, and the ingest anti-join reads mentions through that view — so
a crash anywhere mid-batch leaves the whole batch invisible (its
block keys included), the rerun recomputes it from scratch, and
orphan delta tables from the crashed attempt are simply committed
again (same batch index). Clusters is the only table a batch rewrites; a
crash after that rewrite leaves it holding the unmarked batch until
the rerun rewrites it again; a replay (below) in between leaves it
so and reports its ``total_mentions``.
Mentions and mentions_vec delta row alignment is asserted right after
the vec delta commits (the inner-join vector attach would silently
drop pairs otherwise). An absorb with no new mentions (a replay)
stops after its empty mentions delta, an invisible orphan that the
next batch overwrites: no other commit, no clusters rewrite, no marker.

Equivalence: with capping disabled (or cap never reached),
``incremental(A then B) == full(A ∪ B)`` exactly — asserted in
tests/test_incremental.py. When a hot block's cap BINDS, the
incremental result is a SUPERSET of the full run's pair set: the
committed block_keys are uncapped and a touched block is re-capped
over its FULL membership, so the incremental pair universe contains
every pair the batch run generates (the cap's keep order is a pure
function of (block_key, mention_id)), plus historical verified pairs
whose members later fell out of the cap — already-scored pairs are
never unscored. Recall never regresses from incremental processing;
asserted under a binding cap in tests/test_incremental.py.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from el import blocking
from el.catalog import HadoopParquetCatalog, artifact_meta, commit_json
from el.clustering import clusters_of
from el.extract import extract_mentions
from el.pipeline import (
    PipelineConfig,
    gated_pages,
    mentions_stage,  # noqa: F401 (perfbench/tracing.py patches this name)
    raw_block_keys,
    skew_capped_keys,
)
from el.runner import (
    SCORE_CHUNK_PREFIX,
    WRITE_KW,
    RunConfig,
    _counted,
    _fit_or_load_models,
    _observed_rows,
    _models_dir,
    topic_buckets,
    vectorize,
)
from el.scoring import matched_edges, score_pairs


def _batch_markers(catalog: HadoopParquetCatalog) -> list[dict]:
    """Committed batch markers, in batch order. A marker exists only
    for batches whose EVERY table write committed (written last)."""
    if not os.path.isdir(catalog.root):
        return []
    out = []
    for name in os.listdir(catalog.root):
        if name.startswith("_batch_") and name.endswith(".json"):
            with open(os.path.join(catalog.root, name)) as f:
                out.append(json.load(f))
    # numeric order: names sort "_batch_10000" before "_batch_9999"
    return sorted(out, key=lambda m: m["batch"])


def _commit_batch_marker(
    catalog: HadoopParquetCatalog, batch: int, run_id: str, tables: list[str]
) -> dict:
    """Atomic batch commit point (``commit_json``). Until this file
    exists, none of the batch's delta tables are visible."""
    marker = {
        "batch": batch,
        "run_id": run_id,
        "tables": tables,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    commit_json(os.path.join(catalog.root, f"_batch_{batch:04d}.json"), marker)
    return marker


def _delta_table(base: str, batch: int) -> str:
    """Name of ``base``'s append-only delta table for ``batch``."""
    return f"{base}_delta_{batch:04d}"


def _wm_table(base: str) -> str:
    """Table whose manifest carries ``base``'s compaction watermark.
    The scored-pair deltas fold into ``scored_pairs_all`` (their base
    is chunked); everything else folds into its own base table."""
    return "scored_pairs_all" if base == "scored_pairs" else base


def _compacted_through(catalog: HadoopParquetCatalog, base: str) -> int:
    """Last batch index folded into ``base`` by compaction (-1 if
    never compacted). Lives INSIDE the base table's manifest, so the
    watermark and the rewritten data commit in one manifest commit —
    a reader can never see the folded rows in both places."""
    m = catalog.manifest(_wm_table(base))
    return -1 if m is None else m.get("compacted_through", -1)


def _delta_names(catalog: HadoopParquetCatalog, base: str) -> list[str]:
    """Committed append-only delta tables for ``base``, in order —
    marker-gated: a delta dir without its batch marker (crashed batch)
    is invisible; batches at or below the compaction watermark are
    folded into the base (their dirs may already be dropped); a
    marker whose UNFOLDED delta dir is missing is corruption and
    fails loudly (never silently drop a delta)."""
    wm = _compacted_through(catalog, base)
    names = []
    for m in _batch_markers(catalog):
        if base not in m["tables"] or m["batch"] <= wm:
            continue
        t = _delta_table(base, m["batch"])
        if not catalog.exists(t):
            raise RuntimeError(
                f"batch marker {m['batch']:04d} lists {t!r} but the table "
                f"has no committed manifest under {catalog.root} — the "
                f"catalog is corrupt; refusing to silently drop a delta"
            )
        names.append(t)
    return names


def _base_tables(catalog: HadoopParquetCatalog, base: str) -> list[str]:
    """The committed tables a view's deltas apply to: ``[base]``, except
    for scored pairs, whose base is ``scored_pairs_all`` once compacted
    and the chunked runner's ``scored_chunk_*`` tables before that."""
    if base != "scored_pairs":
        return [base]
    if catalog.exists("scored_pairs_all"):
        return ["scored_pairs_all"]
    return catalog.tables(SCORE_CHUNK_PREFIX)


def _view_tables(
    catalog: HadoopParquetCatalog, base: str
) -> tuple[list[str], list[str]]:
    """(base tables, marker-covered deltas) behind ``base``'s view."""
    bases, deltas = _base_tables(catalog, base), _delta_names(catalog, base)
    if not any(catalog.exists(t) for t in bases):
        if deltas:
            # deltas exist with no base at all: a partial write died in
            # a window the batch markers should make impossible
            raise RuntimeError(
                f"{base} deltas exist ({deltas}) but no base table does — "
                "catalog is corrupt; refusing to read or compact"
            )
        raise FileNotFoundError(
            f"{base} has no committed base table under {catalog.root}"
        )
    return bases, deltas


def compact_deltas(
    spark: SparkSession,
    catalog: HadoopParquetCatalog,
    base: str,
    run_id: str = "compact",
) -> dict:
    """Fold ``base``'s committed deltas into one rewritten base table
    (Iceberg ``rewrite_data_files`` shape). Merge-on-read keeps each
    absorb cheap, but a long-lived corpus accumulates one delta table
    per batch — at 100 TB that is thousands of small file sets every
    scan must union. Compaction restores one well-sized file set.

    Protocol (crash-safe at every point):

    1. read base ∪ unfolded deltas (the normal merge-on-read view);
    2. atomically commit it as the new base version with
       ``compacted_through = <last folded batch>`` INSIDE the manifest
       — data and watermark become visible in the same commit, so the
       folded rows are never readable twice;
    3. only then drop the folded delta tables. A crash before (3)
       leaves dirs that the watermark already made invisible; the next
       compaction sweeps them.

    All four append-only tables (mentions, mentions_vec, block_keys,
    scored pairs) compact through this one path over the same view.
    Scored pairs are the one base not named after itself: their view
    reads ``scored_pairs_all`` once compacted, and the chunked runner's
    ``scored_chunk_*`` tables before that, so their rewrite target is
    ``scored_pairs_all`` and any chunks are folded and dropped with the
    deltas. Batch markers are history — they are never rewritten; the
    watermark decides visibility."""
    # sweep orphans from a previous compaction that died before GC
    wm0 = _compacted_through(catalog, base)
    for m in _batch_markers(catalog):
        t = _delta_table(base, m["batch"])
        if base in m["tables"] and m["batch"] <= wm0 and catalog.exists(t):
            catalog.drop(t)

    target = _wm_table(base)
    chunks = [t for t in _base_tables(catalog, base) if t != target]
    deltas = _delta_names(catalog, base)
    if not deltas and not chunks:
        return {"base": base, "folded_batches": 0, "rows": None}
    last = max(
        [wm0] + [int(d.rsplit("_", 1)[1]) for d in deltas]
    )
    manifest = catalog.write(
        _read_with_deltas(spark, catalog, base),
        target,
        run_id=run_id,
        stage=target,
        extra={"compacted_through": last},
        **WRITE_KW.get(target, {}),
    )
    for d in deltas + chunks:
        catalog.drop(d)
    return {
        "base": base,
        "folded_batches": len(deltas),
        "folded_chunks": len(chunks),
        "compacted_through": last,
        "rows": manifest["total_rows"],
    }


def _view_rows(catalog: HadoopParquetCatalog, base: str) -> int:
    """Committed rows behind ``base``'s view, from the manifests
    (tombstoned rows count until compaction drops them)."""
    bases, deltas = _view_tables(catalog, base)
    return sum(catalog.manifest(t)["total_rows"] for t in bases + deltas)


def ingest_new_mentions(
    delta_mentions: DataFrame, old_mentions: DataFrame, *, urls=None
):
    """Rows of a url-keyed frame (the absorb passes gated pages) whose
    url is not yet ingested — WITHOUT shuffling the corpus. The naive
    ``delta LEFT ANTI old.urls.distinct()`` shuffles the corpus-sized
    url set (anti-joins cannot broadcast their corpus-sized right
    side). Equivalent two-phase broadcast form:

    1. ``seen = old SEMI broadcast(probe_urls)`` — one corpus SCAN, no
       corpus shuffle; output is at most delta-sized;
    2. ``delta ANTI broadcast(seen)`` — anti against a small set.

    The probe urls ``urls`` (default: the delta's) hold every delta url,
    so seen = old_urls ∩ probe_urls and delta ∖ seen = delta ∖ old_urls.
    The absorb probes with the raw batch, so its gate runs once, on the
    filtered side, whatever the view's table count: no tie the gate
    breaks per evaluation lets an ingested url in. Shuffles added are
    delta-sized; plan-audited in tests/test_incremental.py."""
    urls = delta_mentions if urls is None else urls
    delta_urls = urls.select("url").distinct()
    seen = (
        old_mentions.select("url")
        .join(F.broadcast(delta_urls), on="url", how="left_semi")
        .distinct()
    )
    return delta_mentions.join(F.broadcast(seen), on="url", how="left_anti")


def _forgotten_mentions(spark, catalog: HadoopParquetCatalog):
    """The mention-id tombstone table written by forget_urls, or None.
    Deletion-sized (grows only with forget requests), so it is always
    broadcast into the anti-joins that apply it."""
    if not catalog.exists("forgotten_mentions"):
        return None
    return catalog.read(spark, "forgotten_mentions")


def _read_with_deltas(spark, catalog: HadoopParquetCatalog, base: str):
    """Merge-on-read: base table ∪ its committed deltas, minus
    forget_urls tombstones. This is the append-only discipline for
    the O(corpus)-payload tables — each absorbed batch commits ONLY
    its delta (Iceberg's append shape) and each forget request
    commits ONLY a tombstone (Iceberg's equality-delete shape);
    nothing ever rewrites the corpus-sized tables eagerly. The base
    tables (``_base_tables``) are one scan; a scored pair is dropped
    when either end is forgotten. Compaction applies the tombstones
    physically because it reads through this view."""
    bases, deltas = _view_tables(catalog, base)
    df = catalog.read_all(spark, bases)
    for d in deltas:
        df = df.unionByName(catalog.read(spark, d))
    keys = ("a_id", "b_id") if base == "scored_pairs" else ("mention_id",)
    gone = _forgotten_mentions(spark, catalog)
    if gone is not None:
        for key in keys:
            df = df.join(
                F.broadcast(gone.select(F.col("mention_id").alias(key))),
                on=key,
                how="left_anti",
            )
    return df


def _next_batch(catalog: HadoopParquetCatalog) -> int:
    """Next batch index = one past the last MARKED batch. A crashed
    (marker-less) batch reuses its index, overwriting its orphans."""
    markers = _batch_markers(catalog)
    return (markers[-1]["batch"] + 1) if markers else 0


def _scored_pair_tables(
    spark: SparkSession, catalog: HadoopParquetCatalog
) -> tuple[list[str], DataFrame]:
    """(table names, merge-on-read DataFrame) of the scored-pair view.
    Kept only for callers outside ``el`` that import it; new code
    calls ``_read_with_deltas(spark, catalog, "scored_pairs")``."""
    bases, deltas = _view_tables(catalog, "scored_pairs")
    return bases + deltas, _read_with_deltas(spark, catalog, "scored_pairs")


def _rewrite_clusters(
    catalog: HadoopParquetCatalog,
    mentions: DataFrame,
    scored: DataFrame,
    rc: RunConfig,
) -> int:
    """Recluster ``mentions`` over the matched edges of ``scored`` and
    commit the result as ``clusters``, the one table absorb and forget
    rewrite (global CC output: ids can change corpus-wide on any merge
    or split); returns its committed row count."""
    clusters = clusters_of(mentions, matched_edges(scored))
    return catalog.write(
        clusters, "clusters", run_id=rc.run_id, stage="clusters"
    )["total_rows"]


def incremental_update(
    spark: SparkSession,
    new_pages: DataFrame,
    catalog: HadoopParquetCatalog,
    rc: RunConfig | None = None,
) -> dict:
    """Absorb ``new_pages`` into the catalog's committed pipeline
    tables; returns {"report": {...}, "clusters": DataFrame}."""
    rc = rc or RunConfig()
    cfg: PipelineConfig = rc.pipeline
    t0 = time.time()

    # persisted models only, checked before anything commits — a delta
    # must NEVER refit (§4.4): delta vectors from a different model
    # would be incomparable with the committed mentions_vec. Missing
    # artifacts are a hard error. Committed means what the fit-once
    # gate would load (el.catalog.artifact_meta): a torn save refuses.
    mdir = _models_dir(catalog, rc)
    if artifact_meta(os.path.join(mdir, "tfidf")) is None:
        raise FileNotFoundError(
            f"incremental_update requires persisted TF-IDF artifacts under "
            f"{mdir!r} (run the batch pipeline first, or pass rc.model_dir / "
            f"the rc.run_id that fitted them) — refitting on a delta would "
            f"silently break vector comparability"
        )
    if cfg.use_topics and artifact_meta(os.path.join(mdir, "topics")) is None:
        raise FileNotFoundError(
            f"incremental_update requires the persisted LDA artifact under "
            f"{mdir!r} when cfg.use_topics is set — refitting on a delta "
            f"would drift topic buckets"
        )
    batch = _next_batch(catalog)

    def commit(base: str, df: DataFrame) -> tuple[DataFrame, int]:
        """(lazy scan, rows) of ``df`` committed as ``base``'s delta."""
        table = _delta_table(base, batch)
        rows = catalog.write(
            df, table, run_id=rc.run_id, stage=base, **WRITE_KW.get(base, {})
        )["total_rows"]
        return catalog.read(spark, table), rows

    def result(n_new, n_clusters, n_delta=0, n_keys=0, n_rows=0, n_blocks=0):
        """The absorb's return value; the zero defaults are a replay's."""
        return {
            "report": {
                "new_mentions": n_new,
                "delta_pairs_scored": n_delta,
                # committed totals come from MANIFESTS, not corpus counts
                "total_pairs": old_pairs_rows + n_delta,
                "total_mentions": n_clusters,
                # scale diagnostics: the pair self-join's input must
                # track the delta, not the corpus (asserted in tests).
                # touched_* are delta-sized; combined sums the key
                # view's manifests.
                "combined_key_rows": old_key_rows + n_keys,
                "touched_key_rows": n_rows,
                "touched_blocks": n_blocks,
                "wall_sec": round(time.time() - t0, 2),
            },
            "clusters": catalog.read(spark, "clusters"),
        }

    # Every committed table read here is scanned lazily: the absorb
    # adds this batch's delta tables, which stay outside every view
    # until the marker lands, so no absorb materializes the corpus.
    # The marker-gated key view hides the keys of a crashed batch.
    old_mentions = _read_with_deltas(spark, catalog, "mentions")
    old_keys = _read_with_deltas(spark, catalog, "block_keys")
    old_scored = _read_with_deltas(spark, catalog, "scored_pairs")
    # committed totals from MANIFESTS — no corpus-sized count() job
    # per absorb
    old_pairs_rows = _view_rows(catalog, "scored_pairs")
    old_key_rows = _view_rows(catalog, "block_keys")

    # 0. suppression list: a forgotten url must never be re-ingested
    # (forget_urls contract — GDPR-style deletion is delete + do not
    # re-collect; without this, the next crawl of the same page would
    # silently resurrect the data). Tombstones are deletion-sized, so
    # the anti-join broadcasts.
    if catalog.exists("forgotten_urls"):
        new_pages = new_pages.join(
            F.broadcast(catalog.read(spark, "forgotten_urls").select("url")),
            on="url",
            how="left_anti",
        )

    # 1. new mentions: gated pages whose url is not yet ingested, then
    # extracted. Extraction maps each page to rows keeping its url, so
    # this equals extracting first and filtering mentions by url, but
    # its one Python pass runs inside the commit, on fresh pages only.
    # The ingest filter probes the corpus with a broadcast of the raw
    # batch's urls instead of shuffling the corpus (ingest_new_mentions;
    # plan-audited)
    gated = gated_pages(new_pages, cfg)
    new_mentions, n_new = commit("mentions", extract_mentions(
        ingest_new_mentions(gated, old_mentions, urls=new_pages)
    ))
    if not n_new:
        # a replay: no delta past this empty one, no recluster and no
        # marker (module docstring); clusters keeps its version
        return result(0, catalog.manifest("clusters")["total_rows"])

    # 2. vectorize with the persisted models
    tfidf, topics = _fit_or_load_models(spark, new_mentions, catalog, rc)
    new_vec, n_vec = commit(
        "mentions_vec", vectorize(new_mentions, tfidf, topics)
    )
    if n_vec != n_new:
        raise RuntimeError(
            f"mentions delta ({n_new} rows) and mentions_vec delta "
            f"({n_vec} rows) disagree for batch {batch} — the inner-join "
            f"vector attach would silently drop pairs; batch NOT marked "
            f"committed"
        )
    # lazy scan: materializing it would be an O(corpus) job per batch
    old_vec = _read_with_deltas(spark, catalog, "mentions_vec")
    all_vec = old_vec.unionByName(new_vec)

    # 3. combined RAW block keys; the skew policy (cap/salt) applies at
    # PAIR-GENERATION time over the touched blocks' FULL membership:
    # the committed table is uncapped, so a member dropped by an
    # earlier run's cap is still here — re-capping the touched block
    # yields exactly the capped member set a batch run over the whole
    # corpus would pick (cap order is a pure function of (block_key,
    # mention_id)), and the incremental pair universe is a SUPERSET of
    # the batch one even when caps bind (append-only scoring keeps
    # historical verified pairs; it never loses a batch pair).
    new_keys, n_new_keys = commit(
        "block_keys",
        raw_block_keys(new_mentions, cfg, topic_buckets(new_vec, topics)),
    )
    # untouched blocks have the exact member set the committed run had,
    # so every pair they can generate is already in old_scored — the
    # self-join input is the touched subset only, which scales with
    # the delta, not the corpus. Restricting to whole blocks commutes
    # with the per-block skew policy (el.pipeline.skew_capped_keys).
    # The touched-block count is observed inside the touched_keys
    # checkpoint (the pair self-join reads it twice).
    touched, n_touched_blocks = _observed_rows(
        new_keys.select("strategy", "block_key").distinct()
    )
    touched_raw = old_keys.unionByName(new_keys).join(
        touched, on=["strategy", "block_key"], how="left_semi"
    )
    touched_keys, n_touched_rows = _counted(
        skew_capped_keys(touched_raw, cfg)[0]
    )
    all_pairs = blocking.candidate_pairs(touched_keys)

    # 4. delta scoring only (anti-join on the scored pair ids); the
    # commit runs the scoring plan (Arrow UDF) once and the clusters
    # rewrite reads the committed delta back
    done = old_scored.select("a_id", "b_id")
    delta_pairs = all_pairs.join(done, on=["a_id", "b_id"], how="left_anti")
    delta_scored, n_delta = commit(
        "scored_pairs", score_pairs(delta_pairs, all_vec, cfg.scoring)
    )

    # 5. the clusters rewrite over the full edge set, then the batch
    # MARKER, last: until it lands, none of this batch's deltas are
    # visible and a rerun recomputes the batch. An absorb with no new
    # mentions writes none (module docstring).
    n_clusters = _rewrite_clusters(
        catalog,
        old_mentions.unionByName(new_mentions),
        old_scored.unionByName(delta_scored),
        rc,
    )
    _commit_batch_marker(
        catalog, batch, rc.run_id,
        ["mentions", "mentions_vec", "block_keys", "scored_pairs"],
    )

    return result(n_new, n_clusters, n_delta, n_new_keys, n_touched_rows,
                  n_touched_blocks())


def forget_urls(
    spark: SparkSession,
    catalog: HadoopParquetCatalog,
    urls: DataFrame,
    rc: RunConfig | None = None,
) -> dict:
    """Right-to-be-forgotten deletion from the committed catalog
    `[PK: GDPR Art. 17 erasure on immutable data lakes — the Iceberg
    equality-delete / merge-on-read pattern]`: remove every mention
    extracted from ``urls`` so that all subsequent reads (and
    absorbs) behave exactly as if those pages had never been crawled.

    Deletion is O(deletion), not O(corpus): the corpus-sized tables
    (mentions, mentions_vec, block_keys, scored pairs) are never
    rewritten here — a deletion-sized TOMBSTONE table commits instead
    and every read path anti-joins it broadcast-side
    (``_read_with_deltas``); the next
    ``compact_deltas`` applies tombstones physically while rewriting
    anyway. Only clusters, the one table the absorb path also
    rewrites, is rewritten eagerly — and it MUST be: a forgotten
    mention may be the bridge holding two real entities together, so
    dropping its edges can split clusters (pinned in tests).

    The contract is delete **and never re-collect**: forgotten urls
    join a permanent suppression list that ``incremental_update``
    anti-joins against every future batch (re-ingesting would
    regenerate the same hash-derived mention ids and silently
    resurrect the data the tombstones hide).

    Idempotent and crash-ordered: tombstones commit FIRST (they only
    hide rows), then clusters — a crash between writes leaves a state
    where re-running the same forget_urls call completes the repair;
    every write is one atomic catalog commit.

    Returns a report dict; read the repaired clusters back via
    ``catalog.read(spark, "clusters")``."""
    rc = rc or RunConfig()
    t0 = time.time()
    urls = urls.select("url").distinct()

    # mention ids being forgotten; broadcast-sized (mentions of the
    # forgotten pages). The mentions view anti-joins the tombstone as
    # it stands before this call's write replaces it.
    gone_m = (
        _read_with_deltas(spark, catalog, "mentions")
        .join(F.broadcast(urls), on="url", how="left_semi")
        .select("mention_id")
        .distinct()
    )

    # 1. tombstones first, urls then mention ids (idempotent union
    # with prior forget calls). Each union reads the version its write
    # supersedes, with no checkpoint: a commit writes a new version
    # and moves no file. Each count is observed inside its commit.
    def tombstone(table: str, key: str, df: DataFrame) -> int:
        df, rows = _observed_rows(df)
        if catalog.exists(table):
            df = catalog.read(spark, table).select(key).unionByName(df)
            df = df.distinct()
        catalog.write(df, table, run_id=rc.run_id, stage="forget")
        return rows()

    n_urls = tombstone("forgotten_urls", "url", urls)
    n_gone = tombstone("forgotten_mentions", "mention_id", gone_m)

    # 2. recluster from the tombstone-filtered views (block_keys needs
    # no rewrite: the same tombstones hide its forgotten members from
    # pair generation): edges touching a forgotten mention are gone,
    # so clusters it bridged split apart
    n_clusters = _rewrite_clusters(
        catalog,
        _read_with_deltas(spark, catalog, "mentions"),
        _read_with_deltas(spark, catalog, "scored_pairs"),
        rc,
    )

    return {
        "forgotten_urls": n_urls,
        "forgotten_mentions": n_gone,
        "total_mentions": n_clusters,
        "wall_sec": round(time.time() - t0, 2),
    }
