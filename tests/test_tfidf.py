"""TF-IDF fit: cluster-side bucket aggregation (bounded driver
materialization) + bit-parity with the scalar FNV bucket kernel
(SURVEY.md §2.9 V6 context vectors)."""

from __future__ import annotations

import re

import numpy as np
import pytest

from el.hashing import fnv1a_tokens
from el.tfidf import DIM, TfidfModel, _bucket

TEXTS = [
    "Apple Inc is a tech company",
    "apple pie recipe with cinnamon",
    "Berlin is the capital of Germany",
    None,
    "",
    "apple apple apple",
    "the the the and and of",
] * 20 + [f"unique doc number {i} with filler token{i}" for i in range(80)]


def _fnv32_scalar(t: str) -> int:
    h = 2166136261
    for ch in t.encode("utf-8"):
        h = ((h ^ ch) * 16777619) & 0xFFFFFFFF
    return h


def _fnv64_scalar(t: str) -> int:
    x = 0xCBF29CE484222325
    for ch in t.encode("utf-8"):
        x = ((x ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return x


@pytest.mark.parametrize("bits,oracle", [(32, _fnv32_scalar), (64, _fnv64_scalar)])
def test_fnv1a_vectorized_matches_scalar(bits, oracle):
    toks = ["hello", "a", "", "entity42", "über", "naïve", "x" * 60, "0", "zz9"]
    got = fnv1a_tokens(toks, bits=bits)
    assert [int(x) for x in got] == [oracle(t) for t in toks]
    assert fnv1a_tokens([], bits=bits).size == 0


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.lists(st.text(min_size=0, max_size=40), max_size=60))
    @settings(max_examples=120, deadline=None)
    def test_fnv1a_vectorized_matches_scalar_hypothesis(tokens):
        got32 = fnv1a_tokens(tokens, bits=32)
        got64 = fnv1a_tokens(tokens, bits=64)
        assert [int(x) for x in got32] == [_fnv32_scalar(t) for t in tokens]
        assert [int(x) for x in got64] == [_fnv64_scalar(t) for t in tokens]
except ImportError:  # pragma: no cover
    pass


def test_fit_matches_python_oracle_exactly(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "context string")
    m = TfidfModel.fit(df, "context")

    tok_re = re.compile(r"[a-z0-9]+")
    idf = np.zeros(DIM, dtype=np.float64)
    for t in TEXTS:
        toks = set(tok_re.findall(t.lower())) if t else set()
        if toks:
            np.add.at(idf, _bucket(sorted(toks)), 1.0)
    nz = idf > 0
    idf[nz] = np.log((len(TEXTS) + 1.0) / (idf[nz] + 1.0)) + 1.0

    assert m.n_docs == len(TEXTS)
    assert np.array_equal(m.idf, idf.astype(np.float32))


def test_fit_materializes_at_most_dim_rows(spark):
    """The driver-side collect is bounded by the hash dimension, not
    the vocabulary (the r1 version collected one row per distinct
    token)."""
    df = spark.createDataFrame([(t,) for t in TEXTS], "context string")
    bucket_counts = TfidfModel._bucket_df_counts(df, "context")
    assert len(bucket_counts.columns) == 2  # (bucket, df) — no token col
    assert bucket_counts.count() <= DIM


def test_sampled_fit_deterministic_across_partitioning(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], "context string")
    m1 = TfidfModel.fit(df.repartition(13), "context", max_fit_docs=60)
    m2 = TfidfModel.fit(df.repartition(3), "context", max_fit_docs=60)
    assert m1.n_docs == m2.n_docs < len(TEXTS)
    assert np.array_equal(m1.idf, m2.idf)


def test_killed_save_leaves_no_meta_and_runner_refits(
    spark, tmp_path, monkeypatch
):
    """The runner loads the TF-IDF artifact whenever meta.json exists,
    so a save killed inside json.dump must leave no meta.json: the next
    run refits and saves a loadable artifact instead of failing on a
    torn file."""
    import json

    from el.pipeline import PipelineConfig
    from el.runner import RunConfig, _fit_or_load_models

    df = spark.createDataFrame([(t,) for t in TEXTS], "context string")
    model = TfidfModel.fit(df, "context")

    def killed(obj, f, **kw):
        f.write('{"n_docs": ')
        raise RuntimeError("killed inside json.dump")

    monkeypatch.setattr(json, "dump", killed)
    with pytest.raises(RuntimeError, match="killed"):
        model.save(str(tmp_path / "tfidf"))
    monkeypatch.undo()
    assert not (tmp_path / "tfidf" / "meta.json").exists()

    rc = RunConfig(
        pipeline=PipelineConfig(use_topics=False), model_dir=str(tmp_path)
    )
    tfidf, topics = _fit_or_load_models(spark, df, None, rc)
    assert topics is None
    loaded = TfidfModel.load(str(tmp_path / "tfidf"))
    assert loaded.n_docs == tfidf.n_docs
    assert np.array_equal(loaded.idf, tfidf.idf)


def test_torn_lda_artifact_refits_and_absorb_refuses(spark, tmp_path):
    """An LDA save killed after its payload started (here: lda/data
    gone, no meta.json) is not a committed artifact: the absorb
    refuses it before any delta table commits, and the runner refits
    and commits a loadable one instead of failing on the torn dir."""
    import shutil

    from el.catalog import HadoopParquetCatalog
    from el.fixtures import gen_web_pages
    from el.incremental import incremental_update
    from el.pipeline import PipelineConfig, mentions_stage
    from el.runner import RunConfig, _fit_or_load_models
    from el.topics import TopicModel

    rc = RunConfig(
        pipeline=PipelineConfig(use_topics=True),
        model_dir=str(tmp_path / "models"),
    )
    pages = gen_web_pages(spark, 60).localCheckpoint()
    mentions = mentions_stage(pages, rc.pipeline).localCheckpoint()
    _fit_or_load_models(spark, mentions, None, rc)
    topics = tmp_path / "models" / "topics"
    shutil.rmtree(topics / "lda" / "data")
    (topics / "meta.json").unlink(missing_ok=True)

    cat = HadoopParquetCatalog(str(tmp_path / "cat"))
    with pytest.raises(FileNotFoundError, match="persisted LDA"):
        incremental_update(spark, pages, cat, rc)
    assert not [t for t in cat.tables() if "_delta_" in t]

    _, refit = _fit_or_load_models(spark, mentions, None, rc)
    assert (topics / "meta.json").exists()
    loaded = TopicModel.load(spark, str(topics))
    assert loaded.k == refit.k
    assert np.array_equal(
        loaded.lda_model.topicsMatrix().toArray(),
        refit.lda_model.topicsMatrix().toArray(),
    )
