"""Incremental entity resolution: absorb a NEW crawl batch into an
existing clustered corpus, scoring only the delta (north_rule
resumability discipline applied to the algorithm itself, not just to
crash recovery).

Mechanics (J4/J5 semi/anti-join ops from SURVEY.md §2.3):
1. extract mentions from the new batch; drop urls already ingested
   (left_anti on the committed mentions table — append-only policy);
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
   absorbed batch and are read back merge-on-read
   (``_read_with_deltas``) — commit I/O scales with the delta. Only
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
orphan delta dirs from the crashed attempt are simply overwritten
(same batch index). Clusters is the only table a batch rewrites; a
crash after that rewrite leaves it holding the unmarked batch until
the rerun rewrites it again. One legacy case: block_keys used to be
rewritten in full before the marker, so a catalog that crashed
mid-absorb under that layout and was never re-run can carry the
crashed batch's keys, unmarked, in its base block_keys table.
Mentions and mentions_vec delta row alignment is asserted at marker
time (the inner-join vector attach would silently drop pairs
otherwise).

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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from el import blocking
from el.catalog import HadoopParquetCatalog
from el.clustering import clusters_of
from el.pipeline import (
    PipelineConfig,
    mentions_stage,
    raw_block_keys,
    skew_capped_keys,
)
from el.runner import (
    WRITE_KW,
    RunConfig,
    _fit_or_load_models,
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
    for name in sorted(os.listdir(catalog.root)):
        if name.startswith("_batch_") and name.endswith(".json"):
            with open(os.path.join(catalog.root, name)) as f:
                out.append(json.load(f))
    return out


def _commit_batch_marker(
    catalog: HadoopParquetCatalog, batch: int, run_id: str, tables: list[str]
) -> dict:
    """Atomic batch commit point: tmp write + fsync + rename. Until
    this file exists, none of the batch's delta tables are visible."""
    marker = {
        "batch": batch,
        "run_id": run_id,
        "tables": tables,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    final = os.path.join(catalog.root, f"_batch_{batch:04d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(marker, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)
    return marker


def _wm_table(base: str) -> str:
    """Table whose manifest carries ``base``'s compaction watermark.
    The scored-pair deltas fold into ``scored_pairs_all`` (their base
    is chunked); everything else folds into its own base table."""
    return "scored_pairs_all" if base == "scored_pairs" else base


def _compacted_through(catalog: HadoopParquetCatalog, base: str) -> int:
    """Last batch index folded into ``base`` by compaction (-1 if
    never compacted). Lives INSIDE the base table's manifest, so the
    watermark and the rewritten data commit in one atomic rename —
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
        t = f"{base}_delta_{m['batch']:04d}"
        if not catalog.exists(t):
            raise RuntimeError(
                f"batch marker {m['batch']:04d} lists {t!r} but the table "
                f"has no committed manifest under {catalog.root} — the "
                f"catalog is corrupt; refusing to silently drop a delta"
            )
        names.append(t)
    return names


def compact_deltas(
    spark: SparkSession,
    catalog: HadoopParquetCatalog,
    base: str,
    run_id: str = "compact",
) -> dict:
    """Fold ``base``'s committed deltas into one rewritten base table
    (Iceberg ``rewrite_data_files`` shape). Merge-on-read keeps each
    absorb cheap, but a long-lived corpus accumulates one delta table
    per
    batch — at 100 TB that is thousands of small file sets every scan
    must union. Compaction restores one well-sized file set.

    Protocol (crash-safe at every point):

    1. read base ∪ unfolded deltas (the normal merge-on-read view);
    2. atomically commit it as the new base version with
       ``compacted_through = <last folded batch>`` INSIDE the manifest
       — data and watermark become visible in the same rename, so the
       folded rows are never readable twice;
    3. only then drop the folded delta tables. A crash before (3)
       leaves dirs that the watermark already made invisible; the next
       compaction sweeps them.

    For ``base="scored_pairs"`` the rewrite target is
    ``scored_pairs_all`` (the chunked runner may have committed
    ``scored_chunk_*`` tables instead of a single base); the chunks
    are folded and dropped too. Batch markers are history — they are
    never rewritten; the watermark decides visibility."""
    # sweep orphans from a previous compaction that died before GC
    wm0 = _compacted_through(catalog, base)
    for m in _batch_markers(catalog):
        t = f"{base}_delta_{m['batch']:04d}"
        if base in m["tables"] and m["batch"] <= wm0 and catalog.exists(t):
            catalog.drop(t)

    deltas = _delta_names(catalog, base)
    chunks: list[str] = []
    if base == "scored_pairs":
        if not catalog.exists("scored_pairs_all"):
            chunks = sorted(
                d
                for d in os.listdir(catalog.root)
                if d.startswith("scored_chunk_")
                and ".__" not in d
                and catalog.exists(d)
            )
        if not deltas and not chunks:
            return {"base": base, "folded_batches": 0, "rows": None}
        merged = None
        if catalog.exists("scored_pairs_all"):
            merged = catalog.read(spark, "scored_pairs_all")
        for c in chunks:
            part = catalog.read(spark, c)
            merged = part if merged is None else merged.unionByName(part)
        if merged is None:
            # deltas exist with no base at all: a partial write died in
            # a window the batch markers should make impossible
            raise RuntimeError(
                f"scored-pairs deltas exist ({deltas}) but neither "
                "scored_pairs_all nor any scored_chunk_* table does — "
                "catalog is corrupt; refusing to compact"
            )
        for d in deltas:
            merged = merged.unionByName(catalog.read(spark, d))
        gone = _forgotten_mentions(spark, catalog)
        if gone is not None:
            # apply forget_urls tombstones physically while we are
            # rewriting anyway (the other bases get this for free
            # through _read_with_deltas)
            ids = gone.select("mention_id")
            merged = merged.join(
                F.broadcast(ids.select(F.col("mention_id").alias("a_id"))),
                on="a_id",
                how="left_anti",
            ).join(
                F.broadcast(ids.select(F.col("mention_id").alias("b_id"))),
                on="b_id",
                how="left_anti",
            )
        target = "scored_pairs_all"
    else:
        if not deltas:
            return {"base": base, "folded_batches": 0, "rows": None}
        merged = _read_with_deltas(spark, catalog, base)
        target = base
    last = max(
        [wm0] + [int(d.rsplit("_", 1)[1]) for d in deltas]
    )
    manifest = catalog.write(
        merged,
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


def _manifest_rows(catalog: HadoopParquetCatalog, table: str) -> int:
    m = catalog.manifest(table)
    return 0 if m is None else m["total_rows"]


def _counted(df: DataFrame) -> tuple[DataFrame, int]:
    """(``df`` materialized by an eager localCheckpoint, its row count).
    The count is observed in flight on the checkpoint, so reporting it
    costs no extra Spark execution."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    df = df.localCheckpoint(eager=True)
    return df, obs.get["rows"]


def ingest_new_mentions(delta_mentions: DataFrame, old_mentions: DataFrame):
    """Delta rows whose url is not yet ingested — WITHOUT shuffling
    the corpus. The naive ``delta LEFT ANTI old.urls.distinct()``
    shuffles the corpus-sized url set on every absorb (anti-joins
    cannot broadcast their corpus-sized right side). Equivalent
    two-phase broadcast form:

    1. ``seen = old SEMI broadcast(delta_urls)`` — one corpus SCAN,
       no corpus shuffle (LeftSemi builds on the broadcast side);
       output is at most delta-sized;
    2. ``delta ANTI broadcast(seen)`` — anti against a small set.

    Identity: seen = old_urls ∩ delta_urls, and
    delta ∖ seen = delta ∖ old_urls. Every shuffle in the plan is
    delta-sized (the two distincts); plan-audited in
    tests/test_incremental.py."""
    delta_urls = delta_mentions.select("url").distinct()
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
    nothing ever rewrites the corpus-sized tables eagerly. Compaction
    applies the tombstones physically because it reads through this
    view."""
    df = catalog.read(spark, base)
    for d in _delta_names(catalog, base):
        df = df.unionByName(catalog.read(spark, d))
    if base in ("mentions", "mentions_vec", "block_keys"):
        gone = _forgotten_mentions(spark, catalog)
        if gone is not None:
            df = df.join(
                F.broadcast(gone.select("mention_id")),
                on="mention_id",
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
    """(table names, unioned DataFrame) of every committed scored-pair
    table: the compacted base (or the chunked runner's scored_chunk_*)
    plus marker-covered scored_pairs deltas. The union is lazy — no
    corpus-sized action here."""
    scored_tables: list[str] = []
    if catalog.exists("scored_pairs_all"):
        scored_tables.append("scored_pairs_all")
        old_scored = catalog.read(spark, "scored_pairs_all")
    else:  # chunked runner pass: union the chunks
        chunks = sorted(
            d
            for d in os.listdir(catalog.root)
            if d.startswith("scored_chunk_")
            and ".__" not in d  # not an in-flight/set-aside dir
            and catalog.exists(d)
        )
        scored_tables.extend(chunks)
        old_scored = catalog.read_all(spark, chunks)
    for d in _delta_names(catalog, "scored_pairs"):
        scored_tables.append(d)
        old_scored = old_scored.unionByName(catalog.read(spark, d))
    gone = _forgotten_mentions(spark, catalog)
    if gone is not None:
        ids = gone.select("mention_id")
        old_scored = old_scored.join(
            F.broadcast(ids.select(F.col("mention_id").alias("a_id"))),
            on="a_id",
            how="left_anti",
        ).join(
            F.broadcast(ids.select(F.col("mention_id").alias("b_id"))),
            on="b_id",
            how="left_anti",
        )
    return scored_tables, old_scored


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

    # Every committed table read here is append-only and scanned
    # lazily: the commit phase adds delta tables and rewrites only
    # clusters, which nothing below reads, so no plan references files
    # a rename replaces, and no absorb materializes the corpus. The
    # marker-gated key view hides the keys of a crashed batch.
    old_mentions = _read_with_deltas(spark, catalog, "mentions")
    old_keys = _read_with_deltas(spark, catalog, "block_keys")
    scored_tables, old_scored = _scored_pair_tables(spark, catalog)
    # committed totals from MANIFESTS — no corpus-sized count() job
    # per absorb
    old_pairs_rows = sum(_manifest_rows(catalog, t) for t in scored_tables)
    old_key_rows = sum(
        _manifest_rows(catalog, t)
        for t in ["block_keys"] + _delta_names(catalog, "block_keys")
    )

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

    # 1. new mentions (urls not yet ingested) — the extract UDF runs
    # once (checkpoint), then the ingest filter probes the corpus with
    # a broadcast of the DELTA's urls instead of shuffling the corpus
    # (ingest_new_mentions; plan-audited)
    delta_mentions = mentions_stage(new_pages, cfg).localCheckpoint(eager=True)
    new_mentions, n_new = _counted(
        ingest_new_mentions(delta_mentions, old_mentions)
    )

    # 2. persisted models only — a delta must NEVER refit (§4.4):
    # delta vectors from a different model would be incomparable with
    # the committed mentions_vec. Missing artifacts are a hard error.
    mdir = _models_dir(catalog, rc)
    if not os.path.exists(os.path.join(mdir, "tfidf", "meta.json")):
        raise FileNotFoundError(
            f"incremental_update requires persisted TF-IDF artifacts under "
            f"{mdir!r} (run the batch pipeline first, or pass rc.model_dir / "
            f"the rc.run_id that fitted them) — refitting on a delta would "
            f"silently break vector comparability"
        )
    if cfg.use_topics and not os.path.exists(os.path.join(mdir, "topics", "lda")):
        raise FileNotFoundError(
            f"incremental_update requires the persisted LDA artifact under "
            f"{mdir!r} when cfg.use_topics is set — refitting on a delta "
            f"would drift topic buckets"
        )
    tfidf, topics = _fit_or_load_models(spark, new_mentions, catalog, rc)
    new_vec = vectorize(new_mentions, tfidf, topics).localCheckpoint(eager=True)
    # append-only table: lazy scan (never overwritten, so no rename
    # hazard; materializing it would be an O(corpus) job per batch)
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
    new_keys = raw_block_keys(
        new_mentions, cfg, topic_buckets(new_vec, topics)
    ).localCheckpoint(eager=True)
    # untouched blocks have the exact member set the committed run had,
    # so every pair they can generate is already in old_scored — the
    # self-join input is the touched subset only, which scales with
    # the delta, not the corpus. Restricting to whole blocks commutes
    # with the per-block skew policy (el.pipeline.skew_capped_keys).
    touched, n_touched_blocks = _counted(
        new_keys.select("strategy", "block_key").distinct()
    )
    touched_raw = old_keys.unionByName(new_keys).join(
        touched, on=["strategy", "block_key"], how="left_semi"
    )
    touched_keys, n_touched_rows = _counted(
        skew_capped_keys(touched_raw, cfg)[0]
    )
    all_pairs = blocking.candidate_pairs(touched_keys)

    # 4. delta scoring only (anti-join on the scored pair ids)
    done = old_scored.select("a_id", "b_id")
    delta_pairs = all_pairs.join(done, on=["a_id", "b_id"], how="left_anti")
    # materialize once: the scoring plan (Arrow UDF) would otherwise
    # be re-evaluated by the commit and the CC checkpoint
    delta_scored, n_delta = _counted(
        score_pairs(delta_pairs, all_vec, cfg.scoring)
    )

    # 5. merge + recluster over the full edge set
    all_scored = old_scored.unionByName(delta_scored)
    all_mentions = old_mentions.unionByName(new_mentions)
    edges = matched_edges(all_scored)
    clusters = clusters_of(all_mentions, edges)

    # 6. commit: APPEND-ONLY deltas for the corpus-sized tables
    # (mentions / mentions_vec / block_keys / scored pairs — each batch
    # writes only its delta, so commit I/O scales with the delta, not
    # the corpus); clusters (global CC output — ids can change
    # corpus-wide on any merge) is the one rewrite.
    # The batch MARKER is written last: until it lands, none of this
    # batch's deltas are visible and a rerun recomputes the batch.
    batch = _next_batch(catalog)
    written: list[str] = []
    m_vec = m_men = None
    new_key_rows = 0
    if n_new:
        m_vec = catalog.write(new_vec, f"mentions_vec_delta_{batch:04d}",
                              run_id=rc.run_id, stage="mentions_vec")
        m_men = catalog.write(new_mentions, f"mentions_delta_{batch:04d}",
                              run_id=rc.run_id, stage="mentions")
        new_key_rows = catalog.write(
            new_keys, f"block_keys_delta_{batch:04d}", run_id=rc.run_id,
            stage="block_keys", **WRITE_KW["block_keys"],
        )["total_rows"]
        written += ["mentions", "mentions_vec", "block_keys"]
    if n_delta:
        catalog.write(delta_scored, f"scored_pairs_delta_{batch:04d}",
                      run_id=rc.run_id, stage="scored_pairs")
        written.append("scored_pairs")
    m_clusters = catalog.write(clusters, "clusters", run_id=rc.run_id,
                               stage="clusters")
    if m_men is not None and m_men["total_rows"] != m_vec["total_rows"]:
        raise RuntimeError(
            f"mentions delta ({m_men['total_rows']} rows) and mentions_vec "
            f"delta ({m_vec['total_rows']} rows) disagree for batch {batch} "
            f"— the inner-join vector attach would silently drop pairs; "
            f"batch NOT marked committed"
        )
    if written:
        _commit_batch_marker(catalog, batch, rc.run_id, written)

    return {
        "report": {
            "new_mentions": n_new,
            "delta_pairs_scored": n_delta,
            # committed totals come from MANIFESTS, not corpus counts
            "total_pairs": old_pairs_rows + n_delta,
            "total_mentions": m_clusters["total_rows"],
            # scale diagnostics: the pair self-join's input must track
            # the delta, not the corpus (asserted in tests). touched_*
            # are delta-sized; combined sums the key view's manifests.
            "combined_key_rows": old_key_rows + new_key_rows,
            "touched_key_rows": n_touched_rows,
            "touched_blocks": n_touched_blocks,
            "wall_sec": round(time.time() - t0, 2),
        },
        "clusters": catalog.read(spark, "clusters"),
    }


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
    (``_read_with_deltas`` / ``_scored_pair_tables``); the next
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
    every write is the catalog's atomic tmp+rename commit.

    Returns a report dict; read the repaired clusters back via
    ``catalog.read(spark, "clusters")``."""
    rc = rc or RunConfig()
    t0 = time.time()
    urls, n_urls = _counted(urls.select("url").distinct())

    # mention ids being forgotten — resolved BEFORE the tombstone
    # hides them; broadcast-sized (mentions of the forgotten pages)
    gone_m, n_gone = _counted(
        _read_with_deltas(spark, catalog, "mentions")
        .join(F.broadcast(urls), on="url", how="left_semi")
        .select("mention_id")
        .distinct()
    )

    # 1. tombstones first (idempotent union with prior forget calls).
    # Each union reads the table its write replaces, with no
    # checkpoint: the write's parquet job runs the plan to completion
    # before the commit renames the new table into place, and nothing
    # reads these plans afterwards.
    all_u = urls
    if catalog.exists("forgotten_urls"):
        all_u = (
            catalog.read(spark, "forgotten_urls")
            .select("url")
            .unionByName(urls)
            .distinct()
        )
    catalog.write(
        all_u,
        "forgotten_urls",
        run_id=rc.run_id,
        stage="forget",
    )
    all_m = gone_m
    if catalog.exists("forgotten_mentions"):
        all_m = (
            catalog.read(spark, "forgotten_mentions")
            .select("mention_id")
            .unionByName(gone_m)
            .distinct()
        )
    catalog.write(
        all_m,
        "forgotten_mentions",
        run_id=rc.run_id,
        stage="forget",
    )

    # 2. recluster from the tombstone-filtered views (block_keys needs
    # no rewrite: the same tombstones hide its forgotten members from
    # pair generation): edges touching a forgotten mention are gone,
    # so clusters it bridged split apart
    mentions = _read_with_deltas(spark, catalog, "mentions")
    _, scored = _scored_pair_tables(spark, catalog)
    clusters = clusters_of(mentions, matched_edges(scored))
    m_cl = catalog.write(
        clusters, "clusters", run_id=rc.run_id, stage="clusters"
    )

    return {
        "forgotten_urls": n_urls,
        "forgotten_mentions": n_gone,
        "total_mentions": m_cl["total_rows"],
        "wall_sec": round(time.time() - t0, 2),
    }
