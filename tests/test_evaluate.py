"""clustering_agreement: pair-counting Rand / Adjusted Rand."""

from __future__ import annotations

from pyspark.sql import functions as F

from el.evaluate import clustering_agreement


def _cl(spark, assign):
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(assign)], "doc_id long, cluster_id long"
    )


def test_agreement_hand_computed_case(spark):
    # A = {0,1},{2,3}; B = {0,1,2},{3}: 3 of 6 pairs agree -> RI 0.5;
    # expected-index term equals s_both exactly -> ARI 0
    a = _cl(spark, [1, 1, 2, 2])
    b = _cl(spark, [1, 1, 1, 2])
    r = clustering_agreement(a, b).collect()[0]
    assert (r.n_docs, r.n_pairs) == (4, 6)
    assert (r.s_both, r.s_a, r.s_b) == (1, 2, 3)
    assert r.ri == 0.5 and r.ari == 0.0


def test_agreement_identical_and_relabelled(spark):
    a = _cl(spark, [1, 1, 2, 2, 3])
    b = _cl(spark, [7, 7, 9, 9, 8])  # same partition, different labels
    r = clustering_agreement(a, b).collect()[0]
    assert r.ri == 1.0 and r.ari == 1.0


def test_agreement_degenerate_all_singletons(spark):
    # both all-singletons: agreement trivially 1, ARI denominator 0 -> NULL
    a = _cl(spark, [1, 2, 3, 4])
    b = _cl(spark, [5, 6, 7, 8])
    r = clustering_agreement(a, b).collect()[0]
    assert r.ri == 1.0 and r.ari is None


def test_pr_curve_hand_checked(spark):
    from el.evaluate import pr_curve

    # scores: 0.9(pos) 0.9(neg) 0.7(pos) 0.5(neg) 0.5(pos) -> 3 thresholds
    rows = [(0.9, 1), (0.9, 0), (0.7, 1), (0.5, 0), (0.5, 1)]
    df = spark.createDataFrame(rows, "score double, label int")
    got = {r.threshold: r for r in pr_curve(df, "score", "label").collect()}
    assert set(got) == {0.9, 0.7, 0.5}
    r = got[0.9]
    assert (r.tp, r.fp, r.fn) == (1, 1, 2)
    assert r.prec == 0.5 and r.rec == 1 / 3
    r = got[0.7]
    assert (r.tp, r.fp, r.fn) == (2, 1, 1)
    assert r.prec == 2 / 3 and r.rec == 2 / 3 and r.f1 == 2 / 3
    r = got[0.5]
    assert (r.tp, r.fp, r.fn) == (3, 2, 0)
    assert r.rec == 1.0


def test_pr_curve_recall_monotone_ties_collapsed(spark):
    from el.evaluate import pr_curve

    import itertools

    rows = [
        (round(0.1 * (i % 7), 1), int(i % 3 == 0)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    out = pr_curve(df, "score", "label").orderBy(F.col("threshold").desc())
    recs = [r.rec for r in out.collect()]
    assert len(recs) == 7  # ties collapsed to distinct thresholds
    assert all(a <= b for a, b in itertools.pairwise(recs))
    assert recs[-1] == 1.0


def test_pr_curve_quantize_bounds_threshold_table(spark):
    """quantize=q rounds scores upstream, so the
    threshold table is bounded by construction (<= 10^q + 1 rows) no
    matter how many distinct continuous scores come in, and the curve
    equals pr_curve over the pre-rounded scores."""
    from el.evaluate import pr_curve

    rows = [(i / 997.0, int(i % 5 == 0)) for i in range(997)]
    df = spark.createDataFrame(rows, "score double, label int")
    q = pr_curve(df, "score", "label", quantize=1).collect()
    assert len(q) <= 11  # 0.0 .. 1.0 at one decimal
    manual = pr_curve(
        df.select(F.round("score", 1).alias("score"), "label"),
        "score",
        "label",
    ).collect()
    key = lambda r: (r.threshold, r.tp, r.fp, r.fn, r.prec, r.rec, r.f1)
    assert sorted(map(key, q)) == sorted(map(key, manual))
    # full resolution unchanged by default
    assert pr_curve(df, "score", "label").count() == 997


def test_key_skew_profile_hand_checked(spark):
    from el.evaluate import key_skew_profile

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    got = {r.key: r for r in key_skew_profile(df, "k", top_k=2).collect()}
    assert set(got) == {"a", "b"}  # top-2 only
    a = got["a"]
    assert (a.cnt, a.total, a.n_keys) == (6, 10, 3)
    assert a.share == 0.6 and a.skew == 6 / (10 / 3)


def test_bcubed_hand_checked(spark):
    from el.evaluate import clustering_bcubed

    # pred {1,2}{3} vs truth {1,2,3}: P = 1 (every pred cluster pure),
    # R = (2/3 + 2/3 + 1/3)/3 = 5/9, F1 = 2*1*(5/9)/(1+5/9) = 5/7
    a = _cl(spark, [10, 10, 20])
    b = _cl(spark, [1, 1, 1])
    r = clustering_bcubed(a, b).collect()[0]
    assert r.n_docs == 3
    assert r.bcubed_p == 1.0
    assert abs(r.bcubed_r - 5 / 9) < 1e-12
    assert abs(r.bcubed_f1 - 5 / 7) < 1e-12
    # identical clusterings: perfect scores
    r2 = clustering_bcubed(a, _cl(spark, [7, 7, 9])).collect()[0]
    assert (r2.bcubed_p, r2.bcubed_r, r2.bcubed_f1) == (1.0, 1.0, 1.0)


def test_pairs2_exact_and_overflow_safe(spark):
    from el.evaluate import _pairs2

    ns = [0, 1, 2, 3, 10, 11, 3_100_000_000, 4_200_000_000]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {
        r.n: r.p
        for r in df.select("n", _pairs2(F.col("n")).alias("p")).collect()
    }
    for n in ns:
        # naive n*(n-1) wraps int64 past n ~ 3.04e9; _pairs2 must not
        assert got[n] == n * (n - 1) // 2, n
