"""Delta compaction (Iceberg rewrite_data_files shape): folding
committed deltas into one base snapshot preserves the merge-on-read
view exactly, commits the watermark atomically with the data (a crash
before GC can never double-count), and leaves further incremental
absorbs working unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from el.catalog import HadoopParquetCatalog
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

N_PAGES = 300


def _split(pages, k):
    return pages.where(F.pmod(F.xxhash64("url"), F.lit(4)) == k)


@pytest.fixture(scope="module")
def rc(tmp_path_factory):
    return RunConfig(
        run_id="cmp",
        n_score_chunks=2,
        model_dir=str(tmp_path_factory.mktemp("cmp_models")),
        pipeline=PipelineConfig(use_lsh=True, use_topics=False, cap_k=10_000),
    )


@pytest.fixture(scope="module")
def cat(spark, tmp_path_factory, rc):
    """Base run on split 0, then two incremental absorbs (batches 0/1)
    — the module-shared starting state; split 3 is reserved for the
    post-compaction absorb test."""
    pages = gen_web_pages(spark, N_PAGES).localCheckpoint()
    c = HadoopParquetCatalog(str(tmp_path_factory.mktemp("cmp")))
    run_checkpointed(spark, _split(pages, 0), c, rc, resume=False)
    incremental_update(spark, _split(pages, 1), c, rc)
    incremental_update(spark, _split(pages, 2), c, rc)
    return c


def _view_ids(spark, c, base, key):
    return sorted(
        r[0] for r in _read_with_deltas(spark, c, base).select(key).collect()
    )


def test_compaction_preserves_view_and_drops_deltas(spark, cat, rc):
    men_before = _view_ids(spark, cat, "mentions", "mention_id")
    vec_before = _view_ids(spark, cat, "mentions_vec", "mention_id")
    base_rows_before = cat.manifest("mentions")["total_rows"]
    base_version_before = cat.manifest("mentions")["version"]

    rep = compact_deltas(spark, cat, "mentions", run_id=rc.run_id)
    assert rep["folded_batches"] == 2 and rep["compacted_through"] == 1
    compact_deltas(spark, cat, "mentions_vec", run_id=rc.run_id)

    # view content is EXACTLY what merge-on-read served before
    assert _view_ids(spark, cat, "mentions", "mention_id") == men_before
    assert _view_ids(spark, cat, "mentions_vec", "mention_id") == vec_before
    # folded delta tables are gone; batch markers (history) are not
    for b in ("mentions", "mentions_vec"):
        assert not cat.exists(f"{b}_delta_0000")
        assert not cat.exists(f"{b}_delta_0001")
        assert _delta_names(cat, b) == []
    assert [m["batch"] for m in _batch_markers(cat)] == [0, 1]
    # watermark rides the base manifest (atomic with the data)
    m = cat.manifest("mentions")
    assert m["compacted_through"] == 1
    assert m["total_rows"] == len(men_before)
    # pre-compaction base survives as a time-travel snapshot
    assert (
        cat.read(spark, "mentions", version=base_version_before).count()
        == base_rows_before
    )

    # the ingest anti-join still sees every absorbed url: re-feeding an
    # already-absorbed batch scores nothing new
    pages = gen_web_pages(spark, N_PAGES).localCheckpoint()
    out = incremental_update(spark, _split(pages, 1), cat, rc)
    assert out["report"]["new_mentions"] == 0


def test_scored_compaction_folds_chunks_and_deltas(spark, cat, rc):
    """scored_pairs has a chunked base (scored_chunk_*) plus per-batch
    deltas; compaction folds BOTH into one scored_pairs_all."""
    chunks = cat.tables("scored_chunk_")
    deltas = _delta_names(cat, "scored_pairs")
    total_before = sum(
        cat.manifest(t)["total_rows"] for t in chunks + deltas
    )
    rep = compact_deltas(spark, cat, "scored_pairs", run_id=rc.run_id)
    assert rep["rows"] == total_before
    assert cat.exists("scored_pairs_all")
    for t in chunks + deltas:
        assert not cat.exists(t)
    assert cat.manifest("scored_pairs_all")["compacted_through"] >= 0
    # idempotent: nothing left to fold
    rep2 = compact_deltas(spark, cat, "scored_pairs", run_id=rc.run_id)
    assert rep2["folded_batches"] == 0


def test_absorb_after_compaction_continues(spark, cat, rc, tmp_path_factory):
    """A post-compaction absorb numbers itself after the folded
    batches, its delta is visible, and the result equals a full run
    over the combined corpus."""
    all_pages = gen_web_pages(spark, N_PAGES).localCheckpoint()
    extra = _split(all_pages, 3)
    assert extra.count() > 0

    out = incremental_update(spark, extra, cat, rc)
    assert out["report"]["new_mentions"] > 0
    assert [m["batch"] for m in _batch_markers(cat)] == [0, 1, 2]
    assert _delta_names(cat, "mentions") == ["mentions_delta_0002"]

    # merged view: every mention exactly once
    men = _read_with_deltas(spark, cat, "mentions")
    assert men.count() == men.select("mention_id").distinct().count()

    # equivalence with a from-scratch full run (shared models)
    full_cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("cmp_full")))
    rc_full = RunConfig(
        run_id="full",
        n_score_chunks=2,
        pipeline=rc.pipeline,
        model_dir=rc.model_dir,
    )
    full = run_checkpointed(spark, all_pages, full_cat, rc_full, resume=False)
    inc_rows = sorted(
        map(tuple, out["clusters"].select("mention_id", "cluster_id").collect())
    )
    full_rows = sorted(
        map(tuple,
            full["clusters"].select("mention_id", "cluster_id").collect())
    )
    assert inc_rows == full_rows


def test_compaction_crash_before_gc_never_double_counts(
    spark, tmp_path_factory, rc, monkeypatch
):
    """The watermark commits atomically WITH the rewritten base, so a
    crash after the base rename but before delta GC leaves folded
    dirs on disk that no reader can see; the next compaction sweeps
    them."""
    pages = gen_web_pages(spark, 200).localCheckpoint()
    split = F.pmod(F.xxhash64("url"), F.lit(2))
    c = HadoopParquetCatalog(str(tmp_path_factory.mktemp("cmp_crash")))
    rc2 = RunConfig(run_id="cr", n_score_chunks=2, pipeline=rc.pipeline)
    run_checkpointed(spark, pages.where(split == 0), c, rc2, resume=False)
    incremental_update(spark, pages.where(split == 1), c, rc2)

    n_before = _read_with_deltas(spark, c, "mentions").count()
    monkeypatch.setattr(
        type(c), "drop",
        lambda self, t: (_ for _ in ()).throw(
            RuntimeError("simulated crash before GC")
        ),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_deltas(spark, c, "mentions", run_id="cr")
    monkeypatch.undo()

    # folded dir still on disk, but invisible to every reader
    assert c.exists("mentions_delta_0000")
    assert _delta_names(c, "mentions") == []
    assert _read_with_deltas(spark, c, "mentions").count() == n_before
    assert c.manifest("mentions")["compacted_through"] == 0

    # next compaction heals: sweeps the orphan, folds nothing new
    rep = compact_deltas(spark, c, "mentions", run_id="cr")
    assert rep["folded_batches"] == 0
    assert not c.exists("mentions_delta_0000")
    assert _read_with_deltas(spark, c, "mentions").count() == n_before


def test_scored_compaction_orphan_deltas_fail_loudly(
    spark, tmp_path_factory
):
    """Scored-pairs deltas with NO base of any kind (no
    scored_pairs_all, no scored_chunk_*) is a corrupt catalog and must
    raise the explicit corruption error, not an AttributeError on
    None."""
    from el.incremental import _commit_batch_marker

    c = HadoopParquetCatalog(str(tmp_path_factory.mktemp("cmp_orphan")))
    delta = spark.createDataFrame(
        [(1, 2, 0.9)], "a_id long, b_id long, score double"
    )
    c.write(delta, "scored_pairs_delta_0000", run_id="x", stage="t")
    _commit_batch_marker(c, 0, "x", ["scored_pairs"])
    with pytest.raises(RuntimeError, match="corrupt"):
        compact_deltas(spark, c, "scored_pairs", run_id="x")
