"""Training-data set ops: deterministic splits and sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from el.datasets import hash_split, pack_sequences

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def test_hash_split_stable_under_growth(spark):
    # a record's split is a pure function of its key: adding rows to
    # the corpus never reassigns existing records (sample() cannot do
    # this) — the leakage-safety property
    base = spark.range(200).withColumnRenamed("id", "k")
    grown = spark.range(400).withColumnRenamed("id", "k")
    s1 = {r.k: r.split for r in hash_split(base, "k", WEIGHTS).collect()}
    s2 = {r.k: r.split for r in hash_split(grown, "k", WEIGHTS).collect()}
    assert all(s2[k] == v for k, v in s1.items())
    # weights roughly respected at n=400
    from collections import Counter
    c = Counter(s2.values())
    assert 0.7 <= c["train"] / 400 <= 0.9
    assert c["val"] > 0 and c["test"] > 0


def test_hash_split_same_key_same_split_and_seed_changes_it(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k long, payload string"
    )
    out = hash_split(df, "k", WEIGHTS).collect()
    by_k = {}
    for r in out:
        by_k.setdefault(r.k, set()).add(r.split)
    assert all(len(v) == 1 for v in by_k.values())
    # a different seed produces a different overall assignment
    big = spark.range(500).withColumnRenamed("id", "k")
    a = [r.split for r in hash_split(big, "k", WEIGHTS, seed="A")
         .orderBy("k").collect()]
    b = [r.split for r in hash_split(big, "k", WEIGHTS, seed="B")
         .orderBy("k").collect()]
    assert a != b


def test_hash_split_plan_is_exchange_free(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    plan = (
        hash_split(df, "k", WEIGHTS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_pack_sequences_contiguous_and_capacity_math(spark):
    rows = [(i, "en" if i % 2 else "fr", 100 + 7 * (i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, toks long")
    out = pack_sequences(df, "toks", 256, "lang", "doc_id").collect()
    by_lang = {}
    for r in sorted(out, key=lambda r: (r.lang, r.doc_id)):
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        run = 0
        for r in rs:
            assert r.start == run  # concat layout: no gaps, no overlap
            assert r.bin_id == run // 256
            assert r.bin_offset == run % 256
            run += r.toks


def test_pack_sequences_partition_invariant(spark):
    rows = [(i, "en", 33) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, toks long")
    a = sorted(
        (r.doc_id, r.start, r.bin_id)
        for r in pack_sequences(df, "toks", 128, "lang", "doc_id").collect()
    )
    b = sorted(
        (r.doc_id, r.start, r.bin_id)
        for r in pack_sequences(
            df.repartition(7), "toks", 128, "lang", "doc_id"
        ).collect()
    )
    assert a == b


def _docs(spark, n):
    rows = [(i, ["en", "de", "fr"][i % 3], 100 + (i * 37) % 400) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")


def test_stratified_sample_stable_under_growth(spark):
    from el.datasets import stratified_sample

    frac = {"en": 0.5, "de": 1.0, "fr": 0.25}
    small = stratified_sample(_docs(spark, 300), "lang", frac, "doc_id")
    big = stratified_sample(_docs(spark, 900), "lang", frac, "doc_id")
    kept_small = {r.doc_id for r in small.collect()}
    kept_big = {r.doc_id for r in big.collect()}
    # a doc's fate is a pure function of its key: growth never evicts
    assert kept_small <= kept_big
    # fraction 1.0 keeps the whole stratum
    assert big.where(F.col("lang") == "de").count() == 300
    # missing strata would be dropped; present ones roughly honor f
    n_en = big.where(F.col("lang") == "en").count()
    assert 0.35 * 300 < n_en < 0.65 * 300


def test_budget_select_greedy_prefix(spark):
    from el.datasets import budget_select

    out = budget_select(
        _docs(spark, 300), "lang", "n_chars", "n_chars", 3_000, "doc_id"
    )
    rows = out.collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        # budget respected: everything BEFORE the last kept doc is < budget
        assert all(r.spent_before < 3_000 for r in rs)
        # kept set = the quality-desc prefix: min kept quality >= max
        # dropped quality is violated only across the budget line; check
        # instead that kept docs are exactly those with spent_before <
        # budget under the total order, via cum_tokens consistency
        rs = sorted(rs, key=lambda r: (-r.n_chars, r.doc_id))
        run = 0
        for r in rs:
            assert r.spent_before == run
            run += r.n_chars
    # determinism across partitioning
    again = budget_select(
        _docs(spark, 300).repartition(11),
        "lang", "n_chars", "n_chars", 3_000, "doc_id",
    )
    a = sorted((r.doc_id, r.spent_before) for r in rows)
    b = sorted((r.doc_id, r.spent_before) for r in again.collect())
    assert a == b


def test_sample_independent_of_split(spark):
    """stratified_sample's hash is namespaced away from hash_split's:
    sampling half of 'en' keeps ~half of BOTH the train and test
    splits (correlated hashes would keep 62.5% of train, 0% of test)."""
    from el.datasets import hash_split, stratified_sample

    d = hash_split(_docs(spark, 3000), "doc_id", {"train": 0.8, "test": 0.2})
    s = stratified_sample(d, "lang", {"en": 0.5}, "doc_id")
    for split in ("train", "test"):
        n_all = d.where(
            (F.col("split") == split) & (F.col("lang") == "en")
        ).count()
        n_kept = s.where(F.col("split") == split).count()
        frac = n_kept / n_all
        assert 0.35 < frac < 0.65, (split, frac)


def test_benchmark_contamination_crafted(spark):
    """Hand-checked decontamination: doc 1 contains a benchmark
    sentence verbatim (contaminated), doc 2 shares fewer than
    threshold grams, doc 3 is clean, doc 4 is too short to produce a
    gram. Benchmark side is broadcast (plan-audited)."""
    from el.datasets import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over the lazy dog tonight and more"),
            (2, "quick brown fox sleeps under a tree"),
            (3, "completely unrelated words in this document here"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = benchmark_contamination(docs, bench, n=3, threshold=2)
    got = {r.doc_id: r for r in out.collect()}
    # doc 1: the 10-token benchmark sentence contributes 8 shared 3-grams
    assert got[1].n_contaminated == 8 and got[1].contaminated
    assert got[1].n_grams == 13  # 15 tokens -> 13 trigrams, all distinct
    assert got[1].contamination_frac == 8 / 13
    # doc 2 shares exactly one trigram ("quick brown fox") -> below 2
    assert got[2].n_contaminated == 1 and not got[2].contaminated
    assert got[3].n_contaminated == 0 and not got[3].contaminated
    # doc 4: 2 tokens -> no trigrams; frac guarded by greatest(.,1)
    assert got[4].n_grams == 0 and got[4].contamination_frac == 0.0
    # scale shape: benchmark grams arrive by broadcast
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_benchmark_contamination_production_n13(spark):
    """The PRODUCTION default (n=13, threshold=1 — the
    GPT-3-appendix spec) on realistic-length docs. A verbatim 13-gram
    eval-question leak inside a ~190-token training doc is flagged; a
    close PARAPHRASE of the same question (several words swapped, so
    no 13 consecutive tokens survive) is not, and neither is clean
    text. Defaults are exercised as defaults — no kwargs."""
    from el.datasets import benchmark_contamination

    question = (
        "what is the capital city of the republic of france and when "
        "was it founded by whom exactly"
    )  # 18 tokens -> 6 distinct 13-grams
    filler_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    filler_b = " ".join(f"delta{i} epsi{i} zeta{i}" for i in range(20))
    paraphrase = (
        "what is the main capital of the old republic of france and "
        "when was it established by whom precisely"
    )
    bench = spark.createDataFrame(
        [(900, question)], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            # verbatim leak buried mid-document
            (1, f"{filler_a} {question} {filler_b}"),
            # paraphrase: longest common token run < 13
            (2, f"{filler_a} {paraphrase} {filler_b}"),
            (3, f"{filler_a} {filler_b}"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in benchmark_contamination(docs, bench).collect()}
    # the leak carries all 6 benchmark 13-grams plus boundary grams
    # mixing filler+question tokens (filler tokens are unique per
    # position, so only the 6 pure-question grams can match)
    assert got[1].contaminated and got[1].n_contaminated == 6
    assert not got[2].contaminated and got[2].n_contaminated == 0
    assert not got[3].contaminated and got[3].n_contaminated == 0


def test_weighted_mixture_copy_counts(spark):
    """Whole weights repeat exactly; weight-0 sources (and sources
    missing from the map) drop; epochs are 0-based repeat indices."""
    from el.datasets import weighted_mixture

    rows = [(i, "de" if i % 2 else "zh", 10) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = weighted_mixture(
        df, source_col="lang", weights={"de": 3.0}, key_col="doc_id"
    ).collect()
    de_ids = [i for i in range(1, 41) if i % 2]
    assert sorted(r.doc_id for r in out) == sorted(de_ids * 3)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert all(sorted(v) == [0, 1, 2] for v in by_doc.values())


def test_weighted_mixture_fractional_deterministic_and_independent(spark):
    """Fractional copies are a pure function of (key, seed): repeat
    runs agree exactly; the kept set tracks the weight monotonically
    (every 0.25-survivor also survives at 0.75); and the coin is
    namespaced away from hash_split buckets."""
    from el.datasets import hash_split, weighted_mixture

    rows = [(i, "en", 5) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")

    def kept(w, seed=""):
        out = weighted_mixture(
            df, "lang", {"en": w}, key_col="doc_id", seed=seed
        )
        return {r.doc_id for r in out.collect()}

    k25 = kept(0.25)
    assert kept(0.25) == k25  # bit-stable across runs
    assert 150 < len(k25) < 350  # ~250 of 1000
    assert k25 < kept(0.75)  # monotone in the weight
    assert kept(0.25, seed="other") != k25  # seed moves the coin
    # independence from hash_split: the 0.5-mixture survivors must not
    # be (anti-)correlated with the 0.5/0.5 split on the same key
    split = {
        r.doc_id: r.split
        for r in hash_split(df, "doc_id", {"a": 0.5, "b": 0.5}).collect()
    }
    in_a = sum(1 for d in kept(0.5) if split[d] == "a")
    assert 0.35 < in_a / len(kept(0.5)) < 0.65


def test_weighted_mixture_plan_is_exchange_free(spark):
    from el.datasets import weighted_mixture

    df = spark.createDataFrame(
        [(1, "en", 5)], "doc_id long, lang string, n_chars long"
    )
    plan = weighted_mixture(
        df, "lang", {"en": 1.5}, key_col="doc_id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_decontaminated_split_routing(spark):
    """decontaminated_split: contaminated docs leave 'train' for
    'quarantine', contaminated held-out docs keep their split by
    default, NULL-text docs are never contaminated, and
    protect=everything quarantines contaminated docs in any split."""
    from el.datasets import decontaminated_split, hash_split

    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text if i % 2 == 0 else f"unique{i} " * 8) for i in range(40)]
    rows.append((40, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(99, text)], "doc_id long, text string")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}

    out = decontaminated_split(
        docs, bench, weights, n=3, threshold=1
    ).collect()
    base = {
        r.doc_id: r.split
        for r in hash_split(docs, "doc_id", weights).collect()
    }
    for r in out:
        if r.doc_id == 40:
            assert not r.contaminated  # NULL text carries no grams
            continue
        assert r.contaminated == (r.doc_id % 2 == 0)
        if r.contaminated and base[r.doc_id] == "train":
            assert r.split == "quarantine"
        else:
            assert r.split == base[r.doc_id]
    # at least one doc exercised each routing regime
    assert any(r.split == "quarantine" for r in out)
    assert any(r.contaminated and r.split != "quarantine" for r in out)

    strict = decontaminated_split(
        docs, bench, weights, n=3, threshold=1, protect=tuple(weights)
    ).collect()
    assert all(
        (r.split == "quarantine") == r.contaminated
        for r in strict
        if r.doc_id != 40
    )


def test_epoch_shuffle_permutation_properties(spark):
    from el.datasets import epoch_shuffle

    df = spark.range(500).withColumnRenamed("id", "k")
    out = epoch_shuffle(df, "k", epoch=0, n_shards=16).collect()
    # a permutation: every key exactly once, pos dense 0..k-1 per shard
    assert sorted(r.k for r in out) == list(range(500))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(16))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))

    # deterministic: same (key, epoch, seed) -> same (shard, pos),
    # regardless of input partitioning
    again = {
        (r.k): (r.shard, r.pos)
        for r in epoch_shuffle(
            df.repartition(7), "k", epoch=0, n_shards=16
        ).collect()
    }
    assert {r.k: (r.shard, r.pos) for r in out} == again

    # a new epoch is a DIFFERENT permutation (fresh hash namespace)
    e1 = {
        r.k: (r.shard, r.pos)
        for r in epoch_shuffle(df, "k", epoch=1, n_shards=16).collect()
    }
    assert e1 != {r.k: (r.shard, r.pos) for r in out}


def test_epoch_shuffle_single_hash_exchange(spark):
    from el.datasets import epoch_shuffle

    df = spark.range(100).withColumnRenamed("id", "k")
    plan = (
        epoch_shuffle(df, "k", epoch=2, n_shards=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly one exchange: hash partitioning on shard for the
    # per-shard window sort — never a global (range) sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a near-dup cluster lands in the SAME split
    (keyed on the cluster id), singletons key on themselves, and the
    split stays total over the input."""
    from el.datasets import hash_split, leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 8)], "doc_id long, text string"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "doc_id long, cluster_id long",
    )
    out = leakage_safe_split(
        docs, clusters, {"train": 0.5, "test": 0.5}
    ).collect()
    assert len(out) == 7  # total: every doc assigned exactly once
    by_id = {r.doc_id: r for r in out}
    assert {by_id[i].split_key for i in (1, 2, 3)} == {1}
    assert len({by_id[i].split for i in (1, 2, 3)}) == 1
    assert {by_id[i].split_key for i in (4, 5)} == {4}
    assert by_id[4].split == by_id[5].split
    for i in (6, 7):  # singletons: own key, same split as a plain
        assert by_id[i].split_key == i  # hash_split on doc_id
    plain = {
        r.doc_id: r.split
        for r in hash_split(
            docs, "doc_id", {"train": 0.5, "test": 0.5}
        ).collect()
    }
    assert by_id[6].split == plain[6] and by_id[7].split == plain[7]
    # cluster members inherit the KEEPER's split, by construction
    assert by_id[1].split == plain[1] and by_id[4].split == plain[4]


# ---------------------------------------------------------------------------
# ds9: temporal split with embargo
# ---------------------------------------------------------------------------


def test_temporal_split_boundaries_and_embargo(spark):
    from datetime import datetime

    from el.datasets import temporal_split

    rows = [
        (1, datetime(2024, 1, 10)),            # train
        (2, datetime(2024, 1, 14, 23, 59, 59)),  # train (strictly before)
        (3, datetime(2024, 1, 15)),            # embargo (at boundary)
        (4, datetime(2024, 1, 17, 23, 59, 59)),  # embargo (inside gap)
        (5, datetime(2024, 1, 18)),            # test (at boundary+3d)
        (6, datetime(2024, 2, 1)),             # test
        (7, None),                              # NULL ts -> NULL split
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = {
        r["id"]: r["split"]
        for r in temporal_split(df, "ts", "2024-01-15 00:00:00",
                                embargo_days=3).collect()
    }
    assert got == {
        1: "train", 2: "train", 3: "embargo", 4: "embargo",
        5: "test", 6: "test", 7: None,
    }
    # zero embargo: the gap vanishes, boundary row goes straight to test
    got0 = {
        r["id"]: r["split"]
        for r in temporal_split(df, "ts", "2024-01-15 00:00:00").collect()
    }
    assert got0[3] == "test" and "embargo" not in set(got0.values())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="embargo_days"):
        temporal_split(df, "ts", "2024-01-15", embargo_days=-1)


def test_temporal_split_growth_stable_and_exchange_free(spark):
    """A record's split never changes as later data arrives, and the
    plan is a pure projection (no Exchange) like hash_split."""
    from datetime import datetime

    from el.datasets import temporal_split

    early = [(i, datetime(2024, 1, 1 + i % 20)) for i in range(40)]
    late = [(100 + i, datetime(2024, 3, 1)) for i in range(10)]
    d1 = spark.createDataFrame(early, "id long, ts timestamp")
    d2 = spark.createDataFrame(early + late, "id long, ts timestamp")
    a = {r["id"]: r["split"]
         for r in temporal_split(d1, "ts", "2024-01-12").collect()}
    b = {r["id"]: r["split"]
         for r in temporal_split(d2, "ts", "2024-01-12").collect()}
    assert all(b[i] == a[i] for i in a)
    plan = temporal_split(d1, "ts", "2024-01-12")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
