"""Blocking properties: cap bounds, salted-join equivalence,
pair determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from el import blocking
from el.fixtures import gen_web_pages
from el.pipeline import PipelineConfig, mentions_stage


def _keys(spark, n=400):
    mentions = mentions_stage(gen_web_pages(spark, n), PipelineConfig(use_lsh=False))
    return blocking.name_token_keys(mentions)


def test_cap_bounds_block_size(spark):
    keys = _keys(spark)
    capped, stats = blocking.cap_blocks(keys, cap_k=10)
    mx = (
        capped.groupBy("strategy", "block_key")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert mx <= 10
    # stats account for every dropped member
    total = keys.count()
    kept = capped.count()
    dropped = stats.agg(F.sum("n_dropped")).collect()[0][0] or 0
    assert kept + dropped == total


def test_pairs_dedup_and_order(spark):
    keys = _keys(spark)
    capped, _ = blocking.cap_blocks(keys, cap_k=30)
    pairs = blocking.candidate_pairs(capped).persist()
    assert pairs.where("a_id >= b_id").count() == 0
    assert (
        pairs.groupBy("a_id", "b_id").count().where("count > 1").count() == 0
    )
    pairs.unpersist()


def test_salted_join_equals_unsalted(spark):
    fact = spark.range(0, 2000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [(int(i), f"d{i}") for i in range(7)], "k long, name string"
    )
    plain = fact.join(dim, on="k").select("k", "v", "name")
    salted = blocking.salted_join(fact, dim, key="k", n_salts=4).select(
        "k", "v", "name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    assert plain.count() == 2000


def test_salt_blocks_bounds_without_drops(spark):
    keys = _keys(spark)
    salted, stats = blocking.salt_blocks(keys, cap_k=10)
    # nothing dropped: every (mention, block) row survives
    assert salted.count() == keys.count()
    assert stats.agg(F.sum("n_dropped")).collect()[0][0] == 0
    # every salted sub-block is bounded ~cap (hash split is uneven but
    # the expected size is cap_k; assert a loose 3x bound)
    mx = (
        salted.groupBy("strategy", "block_key", "salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert mx <= 30
    # deterministic under repartitioning
    s2, _ = blocking.salt_blocks(keys.repartition(13), cap_k=10)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, s2.collect()))


def test_salted_pairs_subset_of_unsalted(spark):
    keys = _keys(spark)
    salted, _ = blocking.salt_blocks(keys, cap_k=10)
    sub = blocking.candidate_pairs(salted)
    full = blocking.candidate_pairs(keys)  # salt=0 everywhere
    sub_set = {(r.a_id, r.b_id) for r in sub.collect()}
    full_set = {(r.a_id, r.b_id) for r in full.collect()}
    assert sub_set <= full_set
    # cold blocks (<= cap) keep ALL their pairs: check via block sizes
    cold_keys = keys.join(
        keys.groupBy("strategy", "block_key").count().where("count <= 10"),
        on=["strategy", "block_key"],
    ).select("mention_id", "url", "strategy", "block_key", "salt")
    cold_pairs = {
        (r.a_id, r.b_id) for r in blocking.candidate_pairs(cold_keys).collect()
    }
    assert cold_pairs <= sub_set


def test_soundex_keys_catch_phonetic_typos(spark):
    """The optional soundex strategy must co-block name variants whose
    4-char prefix drifted (smith/smyth) — the recall contribution the
    name_token strategy alone cannot provide."""
    rows = [
        (1, "u1", ["smith", "aaron"]),
        (2, "u2", ["smyth", "peter"]),
        (3, "u3", ["baker", "anne"]),
    ]
    m = spark.createDataFrame(
        rows, "mention_id long, url string, name_tokens array<string>"
    )
    sx = blocking.soundex_keys(m)
    nt = blocking.name_token_keys(m)

    def coblocked(keys, a, b):
        pairs = blocking.candidate_pairs(keys)
        return pairs.where(
            (F.col("a_id") == a) & (F.col("b_id") == b)
        ).count() > 0

    assert not coblocked(nt, 1, 2), "prefix4 should NOT co-block smith/smyth"
    assert coblocked(sx, 1, 2), "soundex must co-block smith/smyth"
    assert not coblocked(sx, 1, 3) and not coblocked(sx, 2, 3)
    # schema matches the other strategies (unionByName-compatible)
    assert sx.columns == nt.columns


def test_pipeline_flag_enables_soundex_strategy(spark):
    from el.pipeline import raw_block_keys, skew_capped_keys

    mentions = mentions_stage(
        gen_web_pages(spark, 120), PipelineConfig(use_lsh=False)
    )
    cfg = PipelineConfig(use_lsh=False, use_topics=False, use_soundex=True)
    keys, _ = skew_capped_keys(raw_block_keys(mentions, cfg), cfg)
    strategies = {r.strategy for r in keys.select("strategy").distinct().collect()}
    assert strategies == {"name_token", "soundex"}


def test_soundex_load_bearing_on_typo_heavy_tier(spark):
    """A fixture tier where soundex is DECISIVE,
    not merely recall-additive. prefix_typo_p plants vowel typos
    INSIDE the 4-char prefix (soundex-invariant, prefix4-breaking):
    name_token blocking alone must fail the recall floor on this tier
    and adding the soundex strategy must restore it."""
    from el.evaluate import blocking_recall
    from el.fixtures import gen_labeled_pairs
    from el.pipeline import raw_block_keys, skew_capped_keys

    pages = gen_web_pages(spark, 400, prefix_typo_p=0.9).localCheckpoint(
        eager=True
    )
    labeled = gen_labeled_pairs(spark, 400)
    cfg_nt = PipelineConfig(use_lsh=False, use_topics=False)
    cfg_sx = PipelineConfig(use_lsh=False, use_topics=False, use_soundex=True)
    mentions = mentions_stage(pages, cfg_nt).localCheckpoint(eager=True)
    keys_nt, _ = skew_capped_keys(raw_block_keys(mentions, cfg_nt), cfg_nt)
    keys_sx, _ = skew_capped_keys(raw_block_keys(mentions, cfg_sx), cfg_sx)
    r_nt = blocking_recall(labeled, keys_nt, mentions)
    r_sx = blocking_recall(labeled, keys_sx, mentions)
    assert r_nt < 0.9, f"tier not typo-heavy enough: name_token recall {r_nt}"
    assert r_sx >= 0.99, f"soundex did not restore recall: {r_sx}"


# -- sorted-neighborhood (snm1) -------------------------------------------


def _snm_df(spark, n=40):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("rid"),
        # sort key with heavy ties (id%7) so tie-break order matters
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("key"),
    )


def test_snm_linear_output_and_adjacency(spark):
    from el.blocking import sorted_neighborhood_pairs

    df = _snm_df(spark, 40)
    w = 4
    out = sorted_neighborhood_pairs(df, "key", "rid", window=w).collect()
    # each of the n records pairs with its w-1 successors; the last
    # w-1 records fall short by 1, 2, ..., w-1 pairs respectively
    assert len(out) == 40 * (w - 1) - sum(range(1, w))
    # reference rank: sort by (key, rid) in python
    order = sorted(
        ((f"k{i % 7}", i) for i in range(40))
    )
    pos = {rid: p for p, (_, rid) in enumerate(order)}
    for r in out:
        d = pos[r.b_id] - pos[r.a_id]
        assert 1 <= d <= w - 1


def test_snm_null_keys_excluded_and_window_guard(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from el.blocking import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "rid long, key string"
    )
    out = sorted_neighborhood_pairs(df, "key", "rid", window=2).collect()
    assert [(r.a_id, r.b_id) for r in out] == [(1, 3)]
    with _pt.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(df, "key", "rid", window=1)


def test_snm_deterministic_across_partitionings(spark):
    from el.blocking import sorted_neighborhood_pairs

    df = _snm_df(spark, 60)
    a = sorted_neighborhood_pairs(df, "key", "rid", window=3, num_partitions=2)
    b = sorted_neighborhood_pairs(df, "key", "rid", window=3, num_partitions=17)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_snm_no_single_partition_window(spark):
    """The global rank must never collapse to one partition: the only
    window in the plan is partitioned by the range-partition id."""
    from el.blocking import sorted_neighborhood_pairs

    df = _snm_df(spark, 40)
    out = sorted_neighborhood_pairs(df, "key", "rid", window=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # a driver-global window prints 'Window [...], [_k ASC...' with no
    # partition spec; ours partitions by _pid
    assert "_pid" in plan.split("Window")[1][:400]


def _mb_postings(spark):
    # record -> blocks; block sizes: hot (6 members, purged at
    # max_block=5), pair blocks, and a singleton (purged at min_block)
    rows = []
    for i in range(1, 7):
        rows.append((i, "hot"))        # size-6 block
    rows += [
        (1, "ab"), (2, "ab"),          # {1,2} share ab
        (1, "cd"), (2, "cd"),          # {1,2} share cd -> cbs 2
        (3, "ef"), (4, "ef"),          # {3,4} share ef -> cbs 1
        (5, "solo"),                   # singleton, purged
        (1, "ab"),                     # duplicate posting, dropped
    ]
    return spark.createDataFrame(rows, "id long, block_key string")


def test_meta_blocking_purge_and_cbs(spark):
    from el.blocking import meta_blocking_prune

    out = meta_blocking_prune(
        _mb_postings(spark), id_col="id", key_col="block_key",
        min_block=2, max_block=5, prune="none",
    )
    got = {(r["a_id"], r["b_id"]): r for r in out.collect()}
    # the hot block contributed nothing (purged), solo nothing
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)]["cbs"] == 2          # ab + cd, duplicate ignored
    assert got[(3, 4)]["cbs"] == 1
    # per-record block counts AFTER the purge
    assert got[(1, 2)]["a_nblocks"] == 2 and got[(1, 2)]["b_nblocks"] == 2
    assert got[(3, 4)]["a_nblocks"] == 1 and got[(3, 4)]["b_nblocks"] == 1


def test_meta_blocking_wep_keeps_at_least_mean(spark):
    from el.blocking import meta_blocking_prune

    # edges: (1,2) cbs 2, (3,4) cbs 1 -> mean 1.5 -> WEP keeps (1,2)
    out = meta_blocking_prune(
        _mb_postings(spark), id_col="id", key_col="block_key",
        min_block=2, max_block=5, prune="wep",
    )
    assert [(r["a_id"], r["b_id"]) for r in out.collect()] == [(1, 2)]


def test_meta_blocking_true_pair_survives_hot_block_purge(spark):
    from el.blocking import meta_blocking_prune

    # the meta-blocking premise: a true pair co-occurring in a purged
    # stop-word block ALSO co-occurs in rarer blocks and survives
    rows = [(i, "stop") for i in range(1, 12)]
    rows += [(1, "rare1"), (2, "rare1"), (1, "rare2"), (2, "rare2")]
    post = spark.createDataFrame(rows, "id long, block_key string")
    out = meta_blocking_prune(
        post, id_col="id", key_col="block_key",
        min_block=2, max_block=10, prune="wep",
    ).collect()
    assert [(r["a_id"], r["b_id"]) for r in out] == [(1, 2)]


def test_meta_blocking_guards_and_partition_invariance(spark):
    import pytest as _pt

    from el.blocking import meta_blocking_prune

    post = _mb_postings(spark)
    with _pt.raises(ValueError):
        meta_blocking_prune(post, prune="bogus")
    with _pt.raises(ValueError):
        meta_blocking_prune(post, min_block=1)
    a = meta_blocking_prune(post.repartition(1), min_block=2,
                            max_block=5).collect()
    b = meta_blocking_prune(post.repartition(13), min_block=2,
                            max_block=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_meta_blocking_wnp_hub_mean_cannot_veto(spark):
    from el.blocking import meta_blocking_prune

    # edges (1,2) cbs 3; (1,3) cbs 1; (2,3) cbs 1. Node means: 1 and
    # 2 -> 2.0 (hubs inflated by the strong edge), 3 -> 1.0. WEP's
    # global mean 5/3 drops both weight-1 edges; WNP keeps them via
    # endpoint 3 (1 >= 1.0) — the union semantics the paper specifies
    rows = [(1, "x1"), (2, "x1"), (1, "x2"), (2, "x2"),
            (1, "x3"), (2, "x3"), (1, "y"), (3, "y"), (2, "z"), (3, "z")]
    post = spark.createDataFrame(rows, "id long, block_key string")
    wnp = meta_blocking_prune(post, min_block=2, max_block=10,
                              prune="wnp")
    got = sorted((r["a_id"], r["b_id"], r["cbs"]) for r in wnp.collect())
    assert got == [(1, 2, 3), (1, 3, 1), (2, 3, 1)]
    wep = meta_blocking_prune(post, min_block=2, max_block=10,
                              prune="wep")
    assert [(r["a_id"], r["b_id"]) for r in wep.collect()] == [(1, 2)]


def test_meta_blocking_wnp_matches_python_reference(spark):
    import hashlib
    from collections import defaultdict

    from el.blocking import meta_blocking_prune

    # deterministic md5-derived postings: 30 records x 6 draws over
    # 37 keys — hot, pair-sized, and singleton blocks all occur
    rows = []
    for i in range(30):
        for j in range(6):
            h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()
            rows.append((i, "k" + str(int(h[:4], 16) % 37)))
    post = spark.createDataFrame(rows, "id long, block_key string")
    out = meta_blocking_prune(post, min_block=2, max_block=12,
                              prune="wnp")
    got = sorted(
        (r["a_id"], r["b_id"], r["cbs"]) for r in out.collect()
    )
    memb = defaultdict(set)
    for i, k in set(rows):
        memb[k].add(i)
    cbs = defaultdict(int)
    for v in memb.values():
        if not (2 <= len(v) <= 12):
            continue
        vs = sorted(v)
        for ai in range(len(vs)):
            for bi in range(ai + 1, len(vs)):
                cbs[(vs[ai], vs[bi])] += 1
    nstat = defaultdict(lambda: [0, 0])
    for (a, b), w in cbs.items():
        for n in (a, b):
            nstat[n][0] += 1
            nstat[n][1] += w
    ref = sorted(
        (a, b, w)
        for (a, b), w in cbs.items()
        if w * nstat[a][0] >= nstat[a][1]
        or w * nstat[b][0] >= nstat[b][1]
    )
    assert got and got == ref


# ---------------------------------------------------------------------------
# interval_overlap_join (j10)
# ---------------------------------------------------------------------------


def _brute_overlaps(rows, keyed=True):
    """Naive all-pairs interval overlap (the theta join the binned
    plan replaces) — the truth for parity tests."""
    out = {}
    for i, ra in enumerate(rows):
        for rb in rows[i + 1 :]:
            a, b = (ra, rb) if ra[0] < rb[0] else (rb, ra)
            if keyed and a[3] != b[3]:
                continue
            if a[1] <= b[2] and b[1] <= a[2]:
                out[(a[0], b[0])] = min(a[2], b[2]) - max(a[1], b[1])
    return out


def test_interval_overlap_join_matches_theta_join(spark):
    """Parity with the brute-force theta join on a deterministic
    pseudo-random set, across bin widths spanning smaller-than, near,
    and larger-than the typical interval (the result must be
    invariant to bin_width — the later-start dedup rule makes every
    pair appear exactly once regardless)."""
    from el.blocking import interval_overlap_join

    rows = []
    x = 41
    for i in range(120):
        x = (x * 1103515245 + 12345) % (1 << 31)
        s = x % 5000
        length = (x >> 8) % 300
        key = f"k{(x >> 16) % 3}"
        rows.append((i, s, s + length, key))
    df = spark.createDataFrame(
        rows, "id long, s long, e long, key string"
    )
    want = _brute_overlaps(rows)
    for width in (7, 128, 1000, 100_000):
        got = {
            (r.a_id, r.b_id): r.overlap
            for r in interval_overlap_join(
                df, "id", "s", "e", key_col="key", bin_width=width
            ).collect()
        }
        assert got == want, f"bin_width={width}"


def test_interval_overlap_join_semantics(spark):
    """Touching endpoints overlap (overlap=0); disjoint pairs are
    absent; end<start and null rows drop; no key_col means a global
    self-join; non-positive bin_width raises."""
    import pytest

    from el.blocking import interval_overlap_join

    rows = [
        (1, 0, 10, "a"),
        (2, 10, 20, "a"),   # touches 1 at t=10
        (3, 21, 30, "a"),   # disjoint from 2
        (4, 5, 2, "a"),     # invalid: end < start
        (5, None, 9, "a"),  # null start
        (6, 0, 100, "b"),   # other key: overlaps 1-3 only globally
    ]
    df = spark.createDataFrame(rows, "id long, s long, e long, key string")
    keyed = {
        (r.a_id, r.b_id): r.overlap
        for r in interval_overlap_join(
            df, "id", "s", "e", key_col="key", bin_width=8
        ).collect()
    }
    assert keyed == {(1, 2): 0}
    un_keyed = {
        (r.a_id, r.b_id): r.overlap
        for r in interval_overlap_join(
            df, "id", "s", "e", bin_width=8
        ).collect()
    }
    assert un_keyed == {(1, 2): 0, (1, 6): 10, (2, 6): 10, (3, 6): 9}
    with pytest.raises(ValueError):
        interval_overlap_join(df, "id", "s", "e", bin_width=0)


def test_interval_overlap_join_plan_is_equi_join(spark):
    """The whole point of the binning: the physical plan must be a
    shuffle-partitionable EQUI join on (key, bin) — never the
    BroadcastNestedLoopJoin/CartesianProduct a raw theta join
    compiles to — with no duplicate-elimination aggregate (the
    later-start rule dedups for free)."""
    from el.blocking import interval_overlap_join

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") * 13 % 997).alias("s"),
        (F.col("id") * 13 % 997 + 50).alias("e"),
        (F.col("id") % 4).cast("string").alias("key"),
    )
    out = interval_overlap_join(df, "id", "s", "e", key_col="key",
                                bin_width=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # pairs are emitted exactly once — no distinct/aggregate needed
    assert "HashAggregate" not in plan
    rows = out.collect()
    assert len(rows) == len({(r.a_id, r.b_id) for r in rows})


def test_meta_blocking_cardinality_schemes_match_python_reference(spark):
    """CEP (global top-K edges) and CNP (per-node top-k with
    either-endpoint union) against a pure-python reference on the
    same md5-derived postings the WNP parity test uses."""
    import hashlib
    from collections import defaultdict

    from el.blocking import meta_blocking_prune

    rows = []
    for i in range(30):
        for j in range(6):
            h = hashlib.md5(f"{i}:{j}".encode()).hexdigest()
            rows.append((i, f"k{int(h[:4], 16) % 37}"))
    post = spark.createDataFrame(rows, "id long, block_key string")

    # python reference: purge, CBS edges
    blocks = defaultdict(set)
    for i, k in rows:
        blocks[k].add(i)
    kept = {k: v for k, v in blocks.items() if 2 <= len(v) <= 10}
    cbs = defaultdict(int)
    for v in kept.values():
        mem = sorted(v)
        for x in range(len(mem)):
            for y in range(x + 1, len(mem)):
                cbs[(mem[x], mem[y])] += 1

    # CEP: global top-K by (cbs desc, a, b)
    K = 12
    ref_cep = sorted(
        sorted(cbs.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
    )
    got_cep = sorted(
        ((r.a_id, r.b_id), r.cbs)
        for r in meta_blocking_prune(
            post, min_block=2, max_block=10, prune="cep",
            cardinality_k=K,
        ).collect()
    )
    assert got_cep == ref_cep

    # CNP: per-node top-k by (cbs desc, other id), either endpoint
    k = 2
    inc = defaultdict(list)
    for (a, b), w in cbs.items():
        inc[a].append((-w, b))
        inc[b].append((-w, a))
    keeps = set()
    for node, lst in inc.items():
        for _, other in sorted(lst)[:k]:
            keeps.add((min(node, other), max(node, other)))
    ref_cnp = sorted((p, cbs[p]) for p in keeps)
    got_cnp = sorted(
        ((r.a_id, r.b_id), r.cbs)
        for r in meta_blocking_prune(
            post, min_block=2, max_block=10, prune="cnp",
            cardinality_k=k,
        ).collect()
    )
    assert got_cnp == ref_cnp
    # CNP at k=1 is a subset of k=2 (budget monotonicity)
    got_k1 = {
        (r.a_id, r.b_id)
        for r in meta_blocking_prune(
            post, min_block=2, max_block=10, prune="cnp",
            cardinality_k=1,
        ).collect()
    }
    assert got_k1 <= {p for p, _ in got_cnp}


def test_meta_blocking_cardinality_k_validation(spark):
    import pytest as _pt

    from el.blocking import meta_blocking_prune

    post = spark.createDataFrame(
        [(1, "a"), (2, "a")], "id long, block_key string"
    )
    for prune in ("cep", "cnp"):
        with _pt.raises(ValueError):
            meta_blocking_prune(post, prune=prune)  # k missing
        with _pt.raises(ValueError):
            meta_blocking_prune(post, prune=prune, cardinality_k=0)
    with _pt.raises(ValueError):
        meta_blocking_prune(post, prune="wep", cardinality_k=5)
    with _pt.raises(ValueError):
        meta_blocking_prune(post, prune="none", cardinality_k=5)
