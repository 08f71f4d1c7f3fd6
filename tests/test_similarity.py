"""Similarity-search properties: brute-force top-k vs a numpy oracle,
LSH bucket determinism, and LSH recall floor vs brute force."""

from __future__ import annotations

import numpy as np
import pytest

from el.similarity import brute_force_topk, lsh_buckets, lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    qids = [i for i in range(3)]
    got = brute_force_topk(emb, emb.where(f"vec_id < 3"), k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.rank, r.n_id))
    for q in qids:
        qv = vecs[q]
        cos = {
            n: float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            for n, v in vecs.items()
            if n != q
        }
        want = [n for n, _ in sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
        assert [n for _, n in sorted(by_q[q])] == want


def test_lsh_buckets_deterministic_and_partition_invariant(spark, emb):
    b1 = {(r.vec_id, r.bucket) for r in lsh_buckets(emb).collect()}
    b2 = {(r.vec_id, r.bucket) for r in lsh_buckets(emb.repartition(13)).collect()}
    assert b1 == b2
    n_buckets = len({b for _, b in b1})
    assert n_buckets > 8  # spreads across sign patterns


def test_lsh_topk_recall_floor(spark, emb):
    k = 10
    q = emb.where("vec_id < 20")
    exact = brute_force_topk(emb, q, k=k).collect()
    approx = lsh_topk(emb, q, k=k, n_planes=4, n_tables=8).collect()
    exact_set = {(r.q_id, r.n_id) for r in exact}
    approx_set = {(r.q_id, r.n_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 8 tables x 4 planes (OR-of-ANDs): a cos~0.4 neighbor collides in
    # at least one table with prob ~0.75
    assert recall >= 0.5, recall
    # approximate results are always a subset of the same-bucket pairs,
    # and ranks are dense per query
    for qid in {r.q_id for r in approx}:
        ranks = sorted(r.rank for r in approx if r.q_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))


def test_lsh_topk_multiprobe_improves_recall(spark, emb):
    """Multi-probe (probe_bits=1, query side only) must strictly
    dominate the plain config's recall at identical table count —
    the corpus-side bucket table (the scale cost) is unchanged."""
    k = 10
    q = emb.where("vec_id < 20")
    exact = {(r.q_id, r.n_id) for r in brute_force_topk(emb, q, k=k).collect()}
    plain = {
        (r.q_id, r.n_id)
        for r in lsh_topk(emb, q, k=k, n_planes=4, n_tables=8).collect()
    }
    probed = {
        (r.q_id, r.n_id)
        for r in lsh_topk(
            emb, q, k=k, n_planes=4, n_tables=8, probe_bits=1
        ).collect()
    }
    r_plain = len(exact & plain) / len(exact)
    r_probed = len(exact & probed) / len(exact)
    assert r_probed >= r_plain
    assert r_probed >= 0.8, (r_plain, r_probed)


def test_ivf_topk_recall_floor_and_determinism(spark, emb):
    """IVF ANN: recall floor vs brute force at modest nprobe, and the
    deterministic fit (hash-seeded init + exact-decimal means) yields
    identical centroids across partitionings."""
    import numpy as np

    from el.similarity import ivf_fit, ivf_topk

    k = 10
    q = emb.where("vec_id < 20")
    exact = {(r.q_id, r.n_id) for r in brute_force_topk(emb, q, k=k).collect()}
    approx = {
        (r.q_id, r.n_id)
        for r in ivf_topk(emb, q, k=k, n_centroids=8, nprobe=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall

    c1 = ivf_fit(emb, n_centroids=8, iters=2)
    c2 = ivf_fit(emb.repartition(13), n_centroids=8, iters=2)
    assert np.array_equal(c1, c2), "IVF fit must be partitioning-invariant"

    # persisted-artifact path: passing centroids skips the fit and
    # reproduces the same result
    a2 = {
        (r.q_id, r.n_id)
        for r in ivf_topk(
            emb, q, k=k, n_centroids=8, nprobe=3, centroids=c1
        ).collect()
    }
    assert a2 == approx


def test_ivf_model_artifact_roundtrip(spark, emb, tmp_path):
    """IVF centroids are a persisted model artifact
    like TF-IDF/LDA. Round-trip is bit-exact, the loaded model's
    top-k equals the in-memory fit's, and fit_or_load fits exactly
    once (second call loads the committed artifact)."""
    import numpy as np

    from el.similarity import IvfModel, ivf_topk

    path = str(tmp_path / "ivf")
    m1 = IvfModel.fit_or_load(emb, path, n_centroids=8, iters=2)
    assert (tmp_path / "ivf" / "centroids.npy").exists()
    m2 = IvfModel.fit_or_load(emb, path, n_centroids=8, iters=2)
    assert np.array_equal(m1.centroids, m2.centroids)
    assert m2.meta == {"n_centroids": 8, "iters": 2, "dim": 64, "version": 1}

    # fit_or_load must LOAD on the second call, not refit: poison the
    # fit to prove it is never reached
    import el.similarity as sim

    orig = sim.ivf_fit
    sim.ivf_fit = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("fit_or_load refit an existing artifact")
    )
    try:
        m3 = IvfModel.fit_or_load(emb, path, n_centroids=8, iters=2)
    finally:
        sim.ivf_fit = orig
    assert np.array_equal(m3.centroids, m1.centroids)

    q = emb.where("vec_id < 20")
    direct = {
        (r.q_id, r.n_id, r.rank)
        for r in ivf_topk(
            emb, q, k=10, n_centroids=8, nprobe=3, centroids=m1.centroids
        ).collect()
    }
    via_model = {
        (r.q_id, r.n_id, r.rank)
        for r in m3.topk(emb, q, k=10, nprobe=3).collect()
    }
    assert via_model == direct


def test_sq_topk_recall_and_partition_invariance(spark, emb):
    """int8 SQ ANN: high recall vs brute force (64-dim quantization
    error is small; rerank_factor*k exact re-rank absorbs it), and
    bit-identical output across partitionings (candidate scores are
    exact integer dots; ties broken by id)."""
    from el.similarity import sq_topk

    k = 10
    q = emb.where("vec_id < 20")
    exact = {(r.q_id, r.n_id) for r in brute_force_topk(emb, q, k=k).collect()}
    got = {(r.q_id, r.n_id, r.rank) for r in sq_topk(emb, q, k=k).collect()}
    pairs = {(a, b) for a, b, _ in got}
    recall = len(exact & pairs) / len(exact)
    assert recall >= 0.9, recall

    got2 = {
        (r.q_id, r.n_id, r.rank)
        for r in sq_topk(emb.repartition(13), q, k=k).collect()
    }
    assert got == got2


def test_sq_quantize_pure_function():
    import numpy as np

    from el.similarity import sq_quantize

    v = np.array([[0.5, -1.0, 0.25], [0.0, 0.0, 0.0]])
    q = sq_quantize(v)
    assert q.dtype == np.int8
    assert q[0].tolist() == [64, -127, 32]  # round(127*x/max|x|)
    assert q[1].tolist() == [0, 0, 0]  # zero vector stays zero


def test_sq_topk_empty_queries_returns_empty(spark, emb):
    from el.similarity import sq_topk

    out = sq_topk(emb, emb.where("vec_id < 0"), k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["q_id", "n_id", "rank"]


def test_sq_topk_all_ties_partition_invariant(spark):
    """The adversarial tie case (300 identical vectors): every
    candidate score ties, so the per-batch cut must use the same
    (score desc, id asc) total order as the global window — the top-k
    is then the k lowest ids for EVERY partitioning."""
    from el.similarity import sq_topk

    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(300)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = emb.where("vec_id = 0")
    for src in (emb, emb.repartition(13), emb.repartition(3)):
        got = sorted(
            (r.rank, r.n_id) for r in sq_topk(src, q, k=10).collect()
        )
        assert got == [(r, r) for r in range(1, 11)], got


def test_suggest_n_planes_policy():
    """The cap-recall policy codified (BASELINE.md r5): the suggestion
    must reproduce the measured right-sized config at the bench scale,
    grow with the corpus, and respect the clamps."""
    from el.similarity import suggest_n_planes

    # the measured 96k-doc / cap-1000 case: 6 planes under-bucketed
    # (recall 0.849), 8 planes right-sized (recall 0.981)
    assert suggest_n_planes(96_000, max_bucket=1000) == 8
    # monotone non-decreasing in corpus size
    sizes = [1_000, 10_000, 100_000, 10**9, 10**12]
    suggestions = [suggest_n_planes(n) for n in sizes]
    assert suggestions == sorted(suggestions)
    # tiny corpus clamps to min_planes; planet-scale clamps to max
    assert suggest_n_planes(10) == 4
    assert suggest_n_planes(10**12) == 24
    # expected per-table load at the suggestion is within target
    for n in sizes:
        p = suggest_n_planes(n)
        if 4 < p < 24:  # unclamped region only
            assert n / 2**p <= 0.5 * 1000
    with pytest.raises(ValueError):
        suggest_n_planes(0)
