"""Resume discipline (SURVEY.md §3.3): resume(partial run) produces
exactly the same tables as a fresh full run — stage-level and
mid-scoring (chunk-level) interruption both covered."""

from __future__ import annotations

import dataclasses
import shutil

import pytest

from el.catalog import HadoopParquetCatalog
from el.fixtures import gen_web_pages
from el.pipeline import PipelineConfig
from el.runner import RunConfig, run_checkpointed

N_PAGES = 400


@pytest.fixture(scope="module")
def rc():
    # LSH+topics off: resume semantics are partitioning-logic tests,
    # keep them fast; model fit-or-load still exercised via TF-IDF
    return RunConfig(
        run_id="rX",
        n_score_chunks=4,
        pipeline=PipelineConfig(use_lsh=False, use_topics=False),
    )


@pytest.fixture(scope="module")
def fresh(spark, tmp_path_factory, rc):
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("fresh")))
    pages = gen_web_pages(spark, N_PAGES)
    out = run_checkpointed(spark, pages, cat, rc, resume=False)
    return cat, out


def _rows(spark, cat, table):
    return sorted(map(tuple, cat.read(spark, table).collect()))


def test_resume_after_mid_scoring_crash(spark, tmp_path_factory, rc, fresh):
    fresh_cat, _ = fresh
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("crashed")))
    pages = gen_web_pages(spark, N_PAGES)
    run_checkpointed(spark, pages, cat, rc, resume=False)

    # simulate a crash: lose 2 of 4 scoring chunks + everything after
    for t in ("scored_chunk_001", "scored_chunk_003", "edges", "clusters"):
        shutil.rmtree(f"{cat.root}/{t}")

    out2 = run_checkpointed(spark, pages, cat, rc, resume=True)
    rep = out2["report"]
    assert rep["mentions"]["resumed"] is True
    assert rep["candidate_pairs"]["resumed"] is True
    assert rep["scored_pairs"]["chunks_resumed"] == 2
    assert rep["edges"]["resumed"] is False

    for t in ("candidate_pairs", "edges", "clusters"):
        assert _rows(spark, cat, t) == _rows(spark, fresh_cat, t), t
    # chunks committed before the crash and after the resume alike
    for t in cat.tables():
        assert cat.verify(spark, t), t


def test_full_resume_recomputes_nothing(spark, fresh, rc):
    fresh_cat, _ = fresh
    pages = gen_web_pages(spark, N_PAGES)
    out = run_checkpointed(spark, pages, fresh_cat, rc, resume=True)
    rep = out["report"]
    assert all(
        v["resumed"] for k, v in rep.items()
    ), rep
    assert rep["scored_pairs"]["chunks_resumed"] == rc.n_score_chunks


def test_metrics_cover_all_stages(spark, fresh):
    cat, out = fresh
    stages = {r.stage for r in out["metrics"].select("stage").distinct().collect()}
    assert {
        "mentions", "block_keys", "candidate_pairs", "scored_pairs",
        "edges", "clusters",
    } <= stages


def test_report_rows_come_from_manifests_not_scans(
    spark, fresh, rc, monkeypatch
):
    """Report assembly must never re-scan committed
    tables for a row count — every ``rows`` value comes from the chunk
    and stage manifests. A full-resume run with DataFrame.count()
    forbidden must complete and report identical numbers."""
    from pyspark.sql import DataFrame

    fresh_cat, out0 = fresh
    pages = gen_web_pages(spark, N_PAGES)
    monkeypatch.setattr(
        DataFrame,
        "count",
        lambda self: (_ for _ in ()).throw(
            AssertionError("report assembly re-scanned a table")
        ),
    )
    out = run_checkpointed(spark, pages, fresh_cat, rc, resume=True)
    monkeypatch.undo()

    rep, rep0 = out["report"], out0["report"]
    assert rep["scored_pairs"]["rows"] == rep0["scored_pairs"]["rows"]
    total = sum(
        fresh_cat.manifest(f"scored_chunk_{k:03d}")["total_rows"]
        for k in range(rc.n_score_chunks)
    )
    assert rep["scored_pairs"]["rows"] == total > 0
    # manifest totals agree with one real scan (values unchanged)
    assert out["scored_pairs"].count() == total


def test_rerun_with_fewer_chunks_scores_every_pair_once(
    spark, tmp_path_factory, rc, fresh
):
    """A resume with K=4 after a run with K=8 under the same run id
    resumes no chunk (chunks hashed under 8 hold other pairs), and the
    chunks 004-007 of the K=8 run no longer join the scored-pair view:
    the view holds each pair once and the run equals a fresh K=4 run."""
    from el.incremental import _read_with_deltas

    fresh_cat, out0 = fresh
    cat = HadoopParquetCatalog(str(tmp_path_factory.mktemp("rechunk")))
    pages = gen_web_pages(spark, N_PAGES)
    run_checkpointed(
        spark, pages, cat, dataclasses.replace(rc, n_score_chunks=8)
    )
    rep = run_checkpointed(spark, pages, cat, rc, resume=True)["report"]

    assert rep["scored_pairs"]["chunks_resumed"] == 0
    assert rep["scored_pairs"]["rows"] == out0["report"]["scored_pairs"]["rows"]
    assert cat.tables("scored_chunk_") == [
        f"scored_chunk_{k:03d}" for k in range(rc.n_score_chunks)
    ]
    view = _read_with_deltas(spark, cat, "scored_pairs")
    assert view.count() == rep["scored_pairs"]["rows"]
    for t in ("edges", "clusters"):
        assert _rows(spark, cat, t) == _rows(spark, fresh_cat, t), t
