"""Dedup-family properties: exact dedup on planted copies, SimHash
Spark/python parity + near-dup detection, MinHash-LSH recall on the
corpus's planted near-dup pairs, and n-gram Jaccard symmetry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from el.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_col,
    simhash_pairs,
    simhash_py,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


def test_exact_dedup_planted_copies(spark):
    rows = [(1, "aa bb"), (2, "aa bb"), (3, "cc dd"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.keep_id, r.n_copies) for r in exact_dedup(df).collect()}
    assert got == {(1, 2), (3, 1)}


def test_simhash_spark_matches_python(spark, docs):
    sample = docs.where("text is not null").limit(20)
    sh = {r.doc_id: r.simhash for r in simhash_col(sample, "text", "doc_id").collect()}
    import re

    tok_re = re.compile(r"[a-z0-9]+")
    for r in sample.select("doc_id", "text").collect():
        assert sh[r.doc_id] == simhash_py(tok_re.findall(r.text.lower()))


def test_token_hashes_match_r1_scalar_loop():
    """The vectorized token-hash kernel must stay bit-identical to the
    original per-char scalar loop (simhash values are persisted in
    committed tables — drift would break cross-version dedup)."""
    import numpy as np

    from el.dedup import simhash_batch, token_hashes
    from el.hashing import splitmix64

    def scalar(t: str) -> int:
        x = 0xCBF29CE484222325
        for ch in t.encode("utf-8", errors="replace"):
            x = ((x ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return int(splitmix64(np.array([x], dtype=np.uint64))[0])

    toks = ["fox", "a", "token42", "ü-mixed", "x" * 40]
    assert [int(h) for h in token_hashes(toks)] == [scalar(t) for t in toks]

    texts = ["quick brown fox", "", None, "dog dog dog cat", "a b c 9"]
    import re

    tok_re = re.compile(r"[a-z0-9]+")
    got = simhash_batch(texts)
    for t, g in zip(texts, got):
        exp = simhash_py(tok_re.findall(t.lower()) if isinstance(t, str) else [])
        assert int(g) == exp


def test_simhash_near_text_low_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(1, base), (2, base.replace("dog", "cat")), (3, "totally different words entirely unrelated corpus")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a_id, r.b_id): r.hamming for r in simhash_pairs(df, max_hamming=20).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_finds_planted_neardups(spark, docs):
    # ground truth: bigram-Jaccard >= 0.8 pairs (planted by the driver)
    truth = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.8).collect()
    }
    assert truth, "fixture should contain planted near-dup pairs"
    cand = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(docs, shingle_k=5, rows=4, bands=16).collect()
    }
    missed = truth - cand
    assert not missed, f"LSH missed near-dup pairs: {missed}"


def test_ngram_jaccard_bounds_and_block(spark, docs):
    pairs = ngram_jaccard_pairs(docs, n=2, threshold=0.5).persist()
    bad = pairs.where((F.col("jaccard") < 0.5) | (F.col("jaccard") > 1.0)).count()
    assert bad == 0
    assert pairs.where("a_id >= b_id").count() == 0
    pairs.unpersist()


def test_embedding_neardup_ids_ordered(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for method in ("exact", "lsh"):
        pairs = embedding_neardup_pairs(
            emb, threshold=0.3, method=method, block_col="label"
        ).persist()
        assert pairs.count() > 0
        assert pairs.where("a_id >= b_id").count() == 0
        pairs.unpersist()


def test_embedding_lsh_equals_exact_unblocked(spark):
    """The scale path (LSH candidates -> exact cosine verify) must
    reproduce the exact all-pairs result on the fixture — recall 1.0
    measured, precision exact by construction."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="exact", block_col=None
        ).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="lsh", n_planes=4, n_tables=48
        ).collect()
    }
    assert exact, "fixture should contain cosine>=0.4 pairs"
    assert lsh == exact, f"missed={exact - lsh} extra={lsh - exact}"
    # multi-probe reaches the same recall with 6x fewer tables (the
    # dd5b oracle config since r3): one probed join side, Hamming<=1
    mp = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="lsh",
            n_planes=3, n_tables=8, probe_bits=1,
        ).collect()
    }
    assert mp == exact, f"missed={exact - mp} extra={mp - exact}"


def test_embedding_lsh_finds_planted_neardups_high_threshold(spark):
    """High-threshold regime (the real near-dup use case, default
    planes=8/tables=16): plant near-identical vectors by deterministic
    perturbation and require the LSH path to find every planted pair
    and nothing else."""
    import numpy as np

    from el.hashing import u01

    base = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200).collect()
    rows = []
    for r in base:
        v = np.asarray(r.embedding, dtype=np.float64)
        rows.append((int(r.vec_id), [float(x) for x in v]))
        noise = (u01(np.arange(64) + 64 * r.vec_id, salt=5) - 0.5) * 0.02
        w = v + noise * np.linalg.norm(v) / 8.0
        rows.append((int(r.vec_id) + 1_000_000, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            df, threshold=0.95, method="exact", block_col=None
        ).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(df, threshold=0.95, method="lsh").collect()
    }
    planted = {(int(r.vec_id), int(r.vec_id) + 1_000_000) for r in base}
    assert planted <= exact
    assert lsh == exact, f"missed={exact - lsh} extra={lsh - exact}"


def test_ngram_minhash_equals_exact_unblocked(spark, docs):
    """dd4 scale path: MinHash candidates -> exact-Jaccard verify
    reproduces the unblocked all-pairs result."""
    from pyspark.sql import functions as F2

    one_block = docs.withColumn("_all", F2.lit(1))
    exact = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            one_block, n=2, threshold=0.5, method="exact", block_col="_all"
        ).collect()
    }
    mh = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.5, method="minhash"
        ).collect()
    }
    assert exact, "fixture should contain jaccard>=0.5 pairs"
    assert mh == exact, f"missed={exact - mh} extra={mh - exact}"


def test_block_col_honored_in_scale_paths(spark, docs):
    """An explicit block_col must restrict the minhash/lsh
    candidate paths to same-block pairs, never be silently ignored.
    Blocked scale path == blocked exact path on the fixture."""
    exact = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.5, method="exact", block_col="lang"
        ).collect()
    }
    mh = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.5, method="minhash", block_col="lang"
        ).collect()
    }
    assert exact and mh == exact, f"missed={exact - mh} extra={mh - exact}"

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e_exact = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="exact", block_col="label"
        ).collect()
    }
    e_lsh = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="lsh", n_planes=4, n_tables=48,
            block_col="label",
        ).collect()
    }
    assert e_exact and e_lsh == e_exact
    # and the blocked result is a strict subset of the unblocked one
    e_all = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="lsh", n_planes=4, n_tables=48
        ).collect()
    }
    assert e_exact < e_all


def test_block_col_null_semantics_identical_across_methods(spark, docs):
    """A NULL block value pairs with nothing, in BOTH the
    exact path (equi-join on _blk) and the minhash post-filter. Nulling
    one lang must remove exactly that language's pairs from every
    method, and the two methods must still agree pair-for-pair."""
    from pyspark.sql import functions as F2

    nulled = docs.withColumn(
        "lang", F2.when(F2.col("lang") == "en", None).otherwise(F2.col("lang"))
    )
    full = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            docs, n=2, threshold=0.5, method="exact", block_col="lang"
        ).collect()
    }
    en_docs = {r.doc_id for r in docs.where("lang = 'en'").collect()}
    expect = {p for p in full if p[0] not in en_docs}
    exact = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            nulled, n=2, threshold=0.5, method="exact", block_col="lang"
        ).collect()
    }
    mh = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            nulled, n=2, threshold=0.5, method="minhash", block_col="lang"
        ).collect()
    }
    assert exact == expect and mh == expect
    assert len(full) > len(expect), "fixture must have en-block pairs"


def test_max_bucket_parity_when_cap_not_binding(spark, docs):
    """max_bucket large enough to keep every bucket whole must leave
    every candidate path bit-identical to the uncapped form (the cap
    is a pure pre-join row_number filter; with rn <= cap always true
    it is the identity)."""
    base = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
    }
    capped = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket=10_000
        ).collect()
    }
    assert capped == base

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    e_base = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="lsh",
            n_planes=3, n_tables=8, probe_bits=1,
        ).collect()
    }
    e_cap = {
        (r.a_id, r.b_id)
        for r in embedding_neardup_pairs(
            emb, threshold=0.4, method="lsh",
            n_planes=3, n_tables=8, probe_bits=1, max_bucket=10_000,
        ).collect()
    }
    assert e_cap == e_base


def test_exact_method_honors_max_bucket(spark):
    """method="exact" used to accept max_bucket and
    silently ignore it — the block self-join stayed unbounded. Both
    exact branches now cap block membership to a deterministic subset
    before the self-join, so the quadratic is bounded at K(K-1)/2."""
    rows = [(i, "alpha beta gamma delta shared page text body")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.9, method="exact", max_bucket=None
        ).collect()
    }
    assert len(full) == 20 * 19 // 2
    capped = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.9, method="exact", max_bucket=5
        ).collect()
    }
    assert len(capped) == 5 * 4 // 2 and capped <= full
    # deterministic keep rule: a second run returns the same subset
    capped2 = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.9, method="exact", max_bucket=5
        ).collect()
    }
    assert capped2 == capped
    # embedding exact path: same contract, block_col=None (one bucket)
    vec = [1.0] * 8
    erows = [(i, vec) for i in range(12)]
    emb = spark.createDataFrame(erows, "vec_id long, embedding array<double>")
    e_full = embedding_neardup_pairs(
        emb, vec_col="embedding", id_col="vec_id", threshold=0.9,
        method="exact", dim=8, max_bucket=None,
    ).count()
    assert e_full == 12 * 11 // 2
    e_cap = embedding_neardup_pairs(
        emb, vec_col="embedding", id_col="vec_id", threshold=0.9,
        method="exact", dim=8, max_bucket=4,
    ).count()
    assert e_cap == 4 * 3 // 2
    # blocked exact path: cap applies PER block
    brows = [(i, "x " + "shared body words here " * 3, "en" if i < 10 else "fr")
             for i in range(20)]
    bdf = spark.createDataFrame(brows, "doc_id long, text string, lang string")
    b_cap = ngram_jaccard_pairs(
        bdf, n=2, threshold=0.9, method="exact", block_col="lang",
        max_bucket=3,
    ).count()
    assert b_cap == 2 * 3  # 3 kept per block -> 3 pairs per block


def test_max_bucket_bounds_hot_bucket(spark):
    """A degenerate corpus (150 identical docs) is exactly the 100 TB
    hazard: every band bucket holds all 150 members and the self-join
    emits ~11k pairs. max_bucket=10 must (a) bound candidates per
    bucket at K(K-1)/2, (b) emit a deterministic SUBSET of the
    uncapped pairs, (c) report the truncation via bucket_load_stats —
    never silently."""
    from el.dedup import bucket_load_stats, cap_bucket_members
    from el.minhash import lsh_band_keys

    rows = [(i, "the same boilerplate page text repeated verbatim " * 4)
            for i in range(150)]
    rows += [(200 + i, f"unique filler document number {i} with its own words")
             for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(df, "text", "doc_id").persist()
    n_uncapped = uncapped.count()
    assert n_uncapped >= 150 * 149 / 2  # the quadratic blowup is real

    capped = minhash_lsh_pairs(df, "text", "doc_id", max_bucket=10).persist()
    got = {(r.a_id, r.b_id) for r in capped.collect()}
    # hot bucket: <= bands * K(K-1)/2; the 10 mutually-similar filler
    # docs can add at most their own 45 all-pairs on top
    assert len(got) <= 16 * 10 * 9 / 2 + 10 * 9 / 2
    assert got <= {(r.a_id, r.b_id) for r in uncapped.collect()}
    # determinism: same subset on a rerun
    again = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(df, "text", "doc_id", max_bucket=10).collect()
    }
    assert again == got
    uncapped.unpersist()
    capped.unpersist()

    keyed = lsh_band_keys(
        df.selectExpr(
            "doc_id as mention_id",
            "cast(doc_id as string) as url",
            "text as context",
        )
    )
    stats = bucket_load_stats(keyed, "block_key", "mention_id", cap=10)
    hot = stats.where("n_dropped > 0").collect()
    assert hot and all(r.n_members - 10 == r.n_dropped for r in hot)
    # and the capped frame really holds <= 10 members per bucket
    kept = cap_bucket_members(keyed, "block_key", "mention_id", 10)
    assert kept.groupBy("block_key").count().where("count > 10").count() == 0


def test_max_bucket_simhash_and_embedding_bound(spark):
    """Same hot-bucket bound for the simhash and embedding paths."""
    rows = [(i, "identical page body for the simhash hot bucket " * 3)
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_uncapped = simhash_pairs(df, "text", "doc_id").count()
    assert n_uncapped == 80 * 79 / 2
    capped = simhash_pairs(df, "text", "doc_id", max_bucket=6).count()
    assert capped <= 4 * 6 * 5 / 2  # 4 bands, K=6

    vec = [0.1] * 64
    emb = spark.createDataFrame(
        [(i, vec) for i in range(60)], "vec_id long, embedding array<float>"
    )
    n_vec = embedding_neardup_pairs(
        emb, threshold=0.9, method="lsh", n_planes=3, n_tables=8,
        probe_bits=1,
    ).count()
    assert n_vec == 60 * 59 / 2
    n_vec_cap = embedding_neardup_pairs(
        emb, threshold=0.9, method="lsh", n_planes=3, n_tables=8,
        probe_bits=1, max_bucket=5,
    ).count()
    # 8 tables, each bucket capped at 5 (kept subsets differ per
    # table: the keep order hashes the bucket key) -> <= 8 * K(K-1)/2
    assert n_vec_cap <= 8 * 5 * 4 / 2


def test_chunk_exact_dupes_crafted(spark):
    from el.dedup import chunk_exact_dupes

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # chunks: [a b g d], [e z e t]
        (2, "alpha beta gamma delta something else entirely here"),  # shares chunk 1
        (3, "alpha beta gamma delta"),  # shares chunk 1 again
        (4, "short one"),  # < k tokens: excluded
        (5, "epsilon zeta eta theta epsilon zeta eta theta"),  # internal repeat + shares doc1's 2nd chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.chunk_md5: r for r in chunk_exact_dupes(df, k=4).collect()}
    assert len(out) == 2  # "alpha beta gamma delta" and "epsilon zeta eta theta"
    # alpha-beta-gamma-delta: docs 1,2,3 -> 3 occurrences, keeper 1
    three = [r for r in out.values() if r.n_docs == 3]
    assert len(three) == 1 and three[0].n_occ == 3 and three[0].keeper_doc == 1
    # epsilon-zeta-eta-theta: doc1 once + doc5 twice -> n_occ 3, n_docs 2
    two = [r for r in out.values() if r.n_docs == 2]
    assert len(two) == 1 and two[0].n_occ == 3 and two[0].keeper_doc == 1


def test_neardup_clusters_transitive_chain(spark):
    """A~B and B~C above threshold while A~C is below it: the CLUSTER
    must still merge all three (near-duplication closes transitively),
    which pairwise output alone cannot express."""
    from el.dedup import neardup_doc_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (10, base + " alpha beta gamma delta"),
        (11, base + " alpha beta epsilon zeta"),   # near 10 and 12
        (12, base + " theta iota epsilon zeta"),   # near 11, far from 10
        (13, "completely different text about spark shuffles and joins"),
        (14, "completely different text about spark shuffles and joins too"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = neardup_doc_clusters(
        df, n=2, threshold=0.6, method="exact"
    ).collect()
    cl = {r.doc_id: r.cluster_id for r in out}
    # chain 10-11-12 merges under keeper 10 even though J(10,12) < thr
    assert cl[10] == cl[11] == cl[12] == 10
    assert cl[13] == cl[14] == 13
    # sanity: the chain premise holds (10~12 really is sub-threshold)
    from el.dedup import ngram_jaccard_pairs

    pairs = {
        (r.a_id, r.b_id)
        for r in ngram_jaccard_pairs(
            df, n=2, threshold=0.6, method="exact"
        ).collect()
    }
    assert (10, 11) in pairs and (11, 12) in pairs
    assert (10, 12) not in pairs


def test_dedup_survivors_quality_and_ties(spark):
    from el.dedup import dedup_survivors

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.5), (8, 0.5)],
        "doc_id long, quality double",
    )
    out = {r.cluster_id: r for r in dedup_survivors(clusters, quality).collect()}
    # cluster 1: quality tie between 2 and 3 -> min id 2 wins
    assert out[1].survivor_id == 2 and out[1].n_members == 3
    assert out[1].best_quality == 0.9
    # cluster 7: tie -> min id 7
    assert out[7].survivor_id == 7 and out[7].n_members == 2


def test_dedup_survivors_rank_pushdown_and_left_join(spark):
    from el.dedup import dedup_survivors

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    # doc 3 has no quality row: still counted, competes last
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9)], "doc_id long, quality double"
    )
    df = dedup_survivors(clusters, quality)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "rank pushdown must fire"
    r = df.collect()[0]
    assert (r.survivor_id, r.n_members, r.best_quality) == (2, 3, 0.9)


def test_shared_span_pairs_detects_partial_duplication(spark):
    from el.dedup import shared_span_pairs
    from el.textops import winnow_py

    shared = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "syndicated paragraphs of boilerplate prose march across the "
        "wire services unchanged every single morning"
    )
    a_text = "alpha begins here. " + shared + " alpha trails off."
    b_text = "totally different opener! " + shared + " and a unique coda."
    c_text = (
        "nothing in common with the others whatsoever; independent "
        "content about orbital mechanics and cheese production quotas."
    )
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text), (3, c_text)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in shared_span_pairs(docs, min_shared=3).collect()
    }
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got
    # exact parity with the pure-python winnow intersection (no cap)
    expect = len(set(winnow_py(a_text)) & set(winnow_py(b_text)))
    assert got[(1, 2)] == expect


def test_shared_span_pairs_hot_bucket_cap_bounds_postings(spark):
    from el.dedup import shared_span_pairs

    from pyspark.sql import functions as F

    from el.dedup import cap_bucket_members
    from el.textops import winnow_fingerprints

    # 40 copies of the same text: uncapped -> C(40,2)=780 pairs. The
    # cap bounds each fingerprint BUCKET to 8 postings (so per-bucket
    # join fan-out <= C(8,2)); the kept 8 differ per bucket (hash
    # order), so the global pair union shrinks but is not <= 28.
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated everywhere forever") for i in range(40)],
        "doc_id long, text string",
    )
    assert shared_span_pairs(docs, min_shared=1).count() == 780
    n_capped = shared_span_pairs(docs, min_shared=1, max_bucket=8).count()
    assert n_capped < 780
    posts = winnow_fingerprints(docs).select(
        "doc_id", F.explode("fingerprints").alias("fp")
    )
    max_load = (
        cap_bucket_members(posts, "fp", "doc_id", 8)
        .groupBy("fp")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_load <= 8


def test_production_max_bucket_default_is_capped():
    """Pipeline-facing candidate generators default
    to a bounded hot-bucket cap; None (uncapped) is an explicit oracle
    choice, never the silent default."""
    import inspect

    from el import dedup

    for fn in (
        dedup.ngram_jaccard_pairs,
        dedup.minhash_lsh_pairs,
        dedup.simhash_pairs,
        dedup.embedding_neardup_pairs,
        dedup.shared_span_pairs,
    ):
        sig = inspect.signature(fn)
        assert (
            sig.parameters["max_bucket"].default == dedup.DEFAULT_MAX_BUCKET
        ), fn.__name__
    assert dedup.DEFAULT_MAX_BUCKET is not None


def test_strip_repeated_chunks_crafted(spark):
    """The dd6 REWRITE pass: cross-doc repeated chunks vanish from
    every document, intra-doc repeats and sub-chunk tails survive."""
    from el.dedup import strip_repeated_chunks

    rows = [
        # doc 1: boilerplate chunk + unique chunk + 2-token tail
        (1, "alpha beta gamma delta unique one two three tail tokens"),
        # doc 2: same boilerplate chunk, different remainder
        (2, "alpha beta gamma delta other words entirely here"),
        # doc 3: intra-doc repeat of a chunk NOT shared across docs
        (3, "solo mono duo trio solo mono duo trio"),
        # doc 4: < k tokens, no chunks at all
        (4, "tiny doc"),
        # doc 5: all chunks boilerplate (exact dup of doc 2's chunks)
        (5, "alpha beta gamma delta other words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in strip_repeated_chunks(df, k=4, max_docs=1).collect()
    }
    assert len(out) == 5  # fully-stripped docs keep their row
    # doc 1: chunk 0 removed, chunk 1 + tail survive
    assert out[1].clean_text == "unique one two three tail tokens"
    assert out[1].n_chunks == 2 and out[1].n_removed == 1
    # docs 2/5 are full exact dups: every chunk removed, empty text
    assert out[2].clean_text == "" and out[2].n_removed == 2
    assert out[5].clean_text == "" and out[5].n_removed == 2
    # doc 3: intra-doc repetition is NOT boilerplate (distinct docs)
    assert out[3].clean_text == "solo mono duo trio solo mono duo trio"
    assert out[3].n_removed == 0
    # doc 4: no chunks, text passes through (token-normalized)
    assert out[4].clean_text == "tiny doc"
    assert out[4].n_chunks == 0 and out[4].n_removed == 0


def test_strip_repeated_chunks_max_docs_threshold(spark):
    """max_docs raises the bar: a chunk in exactly max_docs docs is
    kept, one more doc tips it into boilerplate."""
    from el.dedup import strip_repeated_chunks

    rows = [(i, "omega psi chi phi trailer") for i in (1, 2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_repeated_chunks(df, max_docs=2).collect()}
    assert all(r.n_removed == 0 for r in out.values())
    out = {r.doc_id: r for r in strip_repeated_chunks(df, max_docs=1).collect()}
    assert all(r.clean_text == "trailer" for r in out.values())


def test_prefix_filter_jaccard_matches_brute_force(spark):
    """Completeness + exactness of the AllPairs prefix scheme: the
    prefix-filtered self-join must return EXACTLY the pairs a python
    brute-force all-pairs Jaccard returns, at several thresholds."""
    from el.dedup import prefix_filter_jaccard_pairs

    corp = {
        1: ["alpha", "beta", "gamma", "delta"],
        2: ["alpha", "beta", "gamma", "delta", "eps"],
        3: ["alpha", "beta", "gamma"],
        4: ["zeta", "eta", "theta"],
        5: ["zeta", "eta", "theta", "iota"],
        6: ["alpha", "zeta"],
        7: ["alpha", "beta", "gamma", "delta"],  # exact dup of 1
        8: ["lone"],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in corp.items()], "id long, tks array<string>"
    )
    for thr in (0.5, 0.75, 0.9, 1.0):
        want = set()
        ids = sorted(corp)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                sa, sb = set(corp[a]), set(corp[b])
                j = len(sa & sb) / len(sa | sb)
                if j >= thr:
                    want.add((a, b))
        got = {
            (r.a_id, r.b_id): (r.n_inter, r.n_union, r.jaccard)
            for r in prefix_filter_jaccard_pairs(
                df, "id", "tks", threshold=thr
            ).collect()
        }
        assert set(got) == want, f"threshold {thr}"
        for (a, b), (ni, nu, j) in got.items():
            sa, sb = set(corp[a]), set(corp[b])
            assert (ni, nu) == (len(sa & sb), len(sa | sb))
            assert j == pytest.approx(ni / nu)


def test_prefix_filter_jaccard_dupes_in_tokens_and_validation(spark):
    """Input token arrays may carry duplicates (array_distinct owns
    set semantics); empty sets drop out; bad thresholds raise."""
    from el.dedup import prefix_filter_jaccard_pairs

    rows = [
        (1, ["a", "a", "b", "b"]),
        (2, ["b", "a"]),
        (3, []),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, tks array<string>")
    got = {
        (r.a_id, r.b_id, r.n_inter, r.n_union)
        for r in prefix_filter_jaccard_pairs(df, "id", "tks", 1.0).collect()
    }
    assert got == {(1, 2, 2, 2)}
    with pytest.raises(ValueError):
        prefix_filter_jaccard_pairs(df, "id", "tks", 0.0)
    with pytest.raises(ValueError):
        prefix_filter_jaccard_pairs(df, "id", "tks", 1.5)


def test_prefix_filter_jaccard_max_bucket_bounds_postings(spark):
    """Passing max_bucket caps hot prefix-token postings with the
    deterministic keep rule: output is a subset of the uncapped run
    and survivors keep exact (n_inter, n_union)."""
    from el.dedup import prefix_filter_jaccard_pairs

    # 30 docs sharing one hot token plus a private token each — the
    # hot token lands in every prefix at thr 0.5 (sz=2 -> k=2).
    rows = [(i, ["hot", f"p{i:02d}"]) for i in range(30)]
    rows += [(100, ["x", "y"]), (101, ["x", "y"])]
    df = spark.createDataFrame(rows, "id long, tks array<string>")
    full = {
        (r.a_id, r.b_id) for r in
        prefix_filter_jaccard_pairs(df, "id", "tks", 0.5).collect()
    }
    capped = {
        (r.a_id, r.b_id) for r in
        prefix_filter_jaccard_pairs(
            df, "id", "tks", 0.5, max_bucket=5
        ).collect()
    }
    assert capped <= full
    assert (100, 101) in capped  # cold buckets untouched
    # deterministic across runs
    again = {
        (r.a_id, r.b_id) for r in
        prefix_filter_jaccard_pairs(
            df, "id", "tks", 0.5, max_bucket=5
        ).collect()
    }
    assert capped == again


def test_prefix_filter_positional_prunes_but_never_loses(spark):
    """PPJoin positional filter: identical OUTPUT with positional on
    or off (the filter is conservative — completeness via the
    first-shared-token argument in the docstring), while the
    pre-verify CANDIDATE set shrinks on a crafted corpus where two
    docs share only a late-prefix token."""
    from el.dedup import prefix_filter_jaccard_pairs

    # rarest-first order puts each doc's two df=1 tokens first, then
    # 'common' (df=2) at prefix position 3 (klen = 4-2+1 = 3), then
    # 'mm' (df=2, lex-after) OUTSIDE the prefix. Docs 1/2 match only
    # on 'common' at pos 3/3: positional bound 1 + min(1, 1) = 2 <
    # the overlap requirement t*(4+4)/(1+t) = 8/3, so the candidate
    # is pruned — while the size-ratio filter alone keeps it. Docs
    # 3/4 are true near-dups (J = 3/5) matching on an early prefix
    # token and survive both filters.
    corp = {
        1: ["a1", "a2", "common", "mm"],
        2: ["b1", "b2", "common", "mm"],
        3: ["q1", "q2", "q3", "q4"],
        4: ["q1", "q2", "q3", "q5"],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in corp.items()], "id long, tks array<string>"
    )
    kw = dict(id_col="id", tokens_col="tks", threshold=0.5)
    out_pos = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(df, **kw).collect()
    }
    out_nopos = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(
            df, positional=False, **kw
        ).collect()
    }
    assert out_pos == out_nopos == {(3, 4)}
    cand_pos = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(
            df, _candidates_only=True, **kw
        ).collect()
    }
    cand_nopos = {
        (r.a_id, r.b_id)
        for r in prefix_filter_jaccard_pairs(
            df, positional=False, _candidates_only=True, **kw
        ).collect()
    }
    assert cand_pos < cand_nopos          # strictly fewer candidates
    assert (1, 2) not in cand_pos         # the late-token pair pruned
    assert (3, 4) in cand_pos             # true pair always survives
