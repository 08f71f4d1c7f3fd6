"""Large-star/small-star connected components vs union-find oracle."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from el.clustering import clusters_of, connected_components
from el.testing.union_find import components


def _spark_cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(df).collect()
    return {r["mention_id"]: r["cluster_id"] for r in got}


# (6, 40, 400) draws 10x more edges than nodes: its edge list holds
# duplicate, reversed and self-loop edges, which the kernel must drop
@pytest.mark.parametrize(
    "seed,n_nodes,n_edges",
    [(1, 30, 20), (2, 100, 80), (3, 200, 300), (4, 50, 5), (5, 2000, 3000),
     (6, 40, 400)],
)
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    want = components([(a, b) for a, b in edges if a != b])
    got = _spark_cc(spark, edges)
    assert got == want


def test_cc_runs_one_execution_per_round(spark, monkeypatch):
    """Each round is one SQL execution (its checkpoint, which also
    observes the round signature) after the one that orients the
    input: ``rounds + 1`` in all."""
    import el.clustering as clustering

    rounds = []
    signature = clustering._signature

    def counted(metrics):
        rounds.append(metrics)
        return signature(metrics)

    monkeypatch.setattr(clustering, "_signature", counted)
    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(300), rng.randrange(300)) for _ in range(400)],
        "src long, dst long",
    ).localCheckpoint(eager=True)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return {xs.apply(i).executionId() for i in range(xs.size())}

    last = max(execution_ids(), default=-1)
    connected_components(edges)
    new = [i for i in execution_ids() if i > last]
    assert len(rounds) >= 2
    assert len(new) == len(rounds) + 1


def test_cc_chain_and_clique(spark):
    chain = [(i, i + 1) for i in range(0, 40)]
    clique = [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)]
    got = _spark_cc(spark, chain + clique)
    assert all(got[i] == 0 for i in range(41))
    assert all(got[100 + i] == 100 for i in range(6))


def test_clusters_of_singletons(spark):
    mentions = spark.createDataFrame(
        [(1, "u1"), (2, "u2"), (3, "u3")], "mention_id long, url string"
    )
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["mention_id"]: r["cluster_id"] for r in clusters_of(mentions, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 3}


def _numpy_pagerank(edges, damping=0.85, n_iter=10):
    """Independent dense reference: synchronous power iteration with
    uniform dangling redistribution (no decimal rounding — the Spark
    op is compared within float tolerance, exactness is g1's job)."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for a, b in set(edges):
        out.setdefault(a, []).append(b)
    r = [1.0 / n] * n
    for _ in range(n_iter):
        nxt = [0.0] * n
        dm = sum(r[idx[v]] for v in nodes if v not in out)
        for a, dsts in out.items():
            c = r[idx[a]] / len(dsts)
            for b in dsts:
                nxt[idx[b]] += c
        r = [(1 - damping) / n + damping * (x + dm / n) for x in nxt]
    return {v: r[idx[v]] for v in nodes}


def test_pagerank_matches_reference_with_dangling(spark):
    """Crafted graph with a DANGLING node (3 has no out-edges): its
    mass must be redistributed uniformly, not dropped — total rank
    stays 1 and every node matches the dense reference."""
    from el.clustering import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (4, 0), (4, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r["rank"] for r in pagerank(df).collect()}
    want = _numpy_pagerank(edges)
    assert set(got) == set(want)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    # the dangling sink accumulates the most mass on this graph
    assert max(got, key=got.get) == 3


def test_pagerank_dedups_edges_and_is_partition_invariant(spark):
    from el.clustering import pagerank

    edges = [(0, 1), (0, 1), (1, 0), (1, 2), (2, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r.node: r["rank"] for r in pagerank(df).collect()}
    want = _numpy_pagerank(edges)  # reference dedups via set(edges)
    for v in want:
        assert abs(base[v] - want[v]) < 1e-9
    again = {
        r.node: r["rank"]
        for r in pagerank(df.repartition(7)).collect()
    }
    assert again == base  # bit-identical across partitionings


def test_cluster_cohesion_chain_vs_clique(spark):
    from el.clustering import cluster_cohesion

    # cluster 0: 4-node CHAIN (3 intra edges of 6 possible, weakest
    # edge score 1 = the bridge); cluster 1: 3-node CLIQUE (3/3);
    # cluster 2: singleton (0 possible, no edges); one cross edge
    # (3 -> 4) and one edge to an id missing from clusters must be
    # excluded from every cohesion count
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1), (7, 2)],
        "id long, cl long",
    )
    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 1), (2, 3, 4),            # chain
         (4, 5, 9), (5, 6, 8), (4, 6, 7),            # clique
         (3, 4, 6),                                  # cross
         (0, 99, 9)],                                # missing endpoint
        "a_id long, b_id long, s int",
    )
    out = {
        r["cl"]: r
        for r in cluster_cohesion(
            clusters, edges, id_col="id", cluster_col="cl",
            a_col="a_id", b_col="b_id", score_col="s",
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    c0, c1, c2 = out[0], out[1], out[2]
    assert (c0["n_members"], c0["n_possible_pairs"],
            c0["n_intra_edges"]) == (4, 6, 3)
    assert (c0["min_score"], c0["max_score"]) == (1, 5)  # bridge = 1
    assert (c1["n_members"], c1["n_possible_pairs"],
            c1["n_intra_edges"]) == (3, 3, 3)
    assert (c2["n_members"], c2["n_possible_pairs"],
            c2["n_intra_edges"]) == (1, 0, 0)
    assert c2["min_score"] is None and c2["max_score"] is None


def test_cross_cluster_edges_rollup_and_canonical_pair(spark):
    from el.clustering import cross_cluster_edges

    clusters = spark.createDataFrame(
        [(0, 10), (1, 10), (2, 20), (3, 30)], "id long, cl long"
    )
    # two 10<->20 crossings (one written 20-side-first: the pair key
    # must canonicalize), one 10<->30, one intra (excluded), one
    # missing endpoint (excluded)
    edges = spark.createDataFrame(
        [(0, 2, 3), (2, 1, 7), (1, 3, 2), (0, 1, 9), (3, 42, 5)],
        "a_id long, b_id long, s int",
    )
    got = {
        (r["cluster_a"], r["cluster_b"]): r
        for r in cross_cluster_edges(
            clusters, edges, id_col="id", cluster_col="cl",
            a_col="a_id", b_col="b_id", score_col="s",
        ).collect()
    }
    assert set(got) == {(10, 20), (10, 30)}
    assert got[(10, 20)]["n_cross_edges"] == 2
    assert got[(10, 20)]["max_score"] == 7
    assert got[(10, 30)]["n_cross_edges"] == 1


def test_cluster_audit_partition_invariance_and_no_score(spark):
    from el.clustering import cluster_cohesion, cross_cluster_edges

    clusters = spark.createDataFrame(
        [(i, i // 3) for i in range(30)], "id long, cl long"
    )
    edges = spark.createDataFrame(
        [(i, i + 2, i % 5) for i in range(28)],
        "a_id long, b_id long, s int",
    )
    a = sorted(
        map(tuple, cluster_cohesion(
            clusters.repartition(1), edges.repartition(1),
            id_col="id", cluster_col="cl",
            a_col="a_id", b_col="b_id",
        ).collect())
    )
    b = sorted(
        map(tuple, cluster_cohesion(
            clusters.repartition(11), edges.repartition(7),
            id_col="id", cluster_col="cl",
            a_col="a_id", b_col="b_id",
        ).collect())
    )
    assert a == b
    # score-less variant drops the score columns entirely
    cols = cross_cluster_edges(
        clusters, edges, id_col="id", cluster_col="cl",
        a_col="a_id", b_col="b_id",
    ).columns
    assert cols == ["cluster_a", "cluster_b", "n_cross_edges"]


# ---------------------------------------------------------------------------
# pivot_clustering (cl1): KwikCluster by hash-priority pivots
# ---------------------------------------------------------------------------


def _kwik_ref(edges, pri):
    """Sequential KwikCluster (Ailon et al. STOC 2005): process nodes
    in (priority, id) order; an unassigned node becomes a pivot and
    claims all its still-unassigned neighbors."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    ids = set(adj)
    cluster, pivots = {}, set()
    for v in sorted(ids, key=lambda v: (pri[v], v)):
        if v in cluster:
            continue
        cluster[v] = v
        pivots.add(v)
        for u in adj[v]:
            if u not in cluster:
                cluster[u] = v
    return cluster, pivots


def _md5_pri(v):
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def _run_pivot(spark, edges, **kw):
    from el.clustering import pivot_clustering

    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pivot_clustering(df, **kw).collect()
    cluster = {r["node_id"]: r["cluster_id"] for r in rows}
    pivots = {r["node_id"] for r in rows if r["is_pivot"]}
    assert len(rows) == len(cluster), "a node was emitted twice"
    return cluster, pivots


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 40, 30), (2, 120, 100), (3, 200, 320)])
def test_pivot_clustering_matches_sequential_kwikcluster(
    spark, seed, n_nodes, n_edges
):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want, want_piv = _kwik_ref(edges, {v: _md5_pri(v) for v in range(n_nodes)})
    got, got_piv = _run_pivot(spark, edges)
    assert got == want
    assert got_piv == want_piv


def test_pivot_clustering_splits_unverified_chain(spark):
    # path 1-2-3-4 with priorities making 2 the first pivot: 2 claims
    # 1 and 3; 4's only edge goes to non-pivot 3, so 4 is its own
    # cluster. Transitive closure (j7) would fuse all four — this is
    # the over-merge bound pivot clustering exists for.
    pri = [(1, 30), (2, 10), (3, 40), (4, 20)]
    prdf_edges = [(1, 2), (2, 3), (3, 4)]
    from el.clustering import connected_components, pivot_clustering

    df = spark.createDataFrame(prdf_edges, "src long, dst long")
    pdf = spark.createDataFrame(pri, "id long, pri long")
    rows = pivot_clustering(df, priorities=pdf).collect()
    cluster = {r["node_id"]: r["cluster_id"] for r in rows}
    assert cluster == {1: 2, 2: 2, 3: 2, 4: 4}
    cc = {
        r["mention_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert len(set(cc.values())) == 1  # the closure merges everything


def test_pivot_clustering_pivots_never_adjacent(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    cluster, pivots = _run_pivot(spark, edges)
    eset = {frozenset(e) for e in edges}
    for p in pivots:
        for q in pivots:
            if p != q:
                assert frozenset((p, q)) not in eset
    # every non-pivot is assigned to a pivot it shares a DIRECT edge with
    for v, c in cluster.items():
        if v not in pivots:
            assert c in pivots
            assert frozenset((v, c)) in eset


def test_pivot_clustering_partition_invariant(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(200)]
    edges = [(a, b) for a, b in edges if a != b]
    from el.clustering import pivot_clustering

    df = spark.createDataFrame(edges, "src long, dst long")
    a = {
        (r["node_id"], r["cluster_id"], r["is_pivot"])
        for r in pivot_clustering(df.repartition(13)).collect()
    }
    b = {
        (r["node_id"], r["cluster_id"], r["is_pivot"])
        for r in pivot_clustering(df.coalesce(1)).collect()
    }
    assert a == b


def test_pivot_clustering_cl1_fixture_converges_in_three_rounds(spark):
    # the cl1 oracle unrolls exactly 3 MIS rounds: components are <= 6
    # nodes so 3 rounds provably exhaust the graph — pin the bound by
    # running the Spark side with max_iter=3 (it raises on overrun)
    from el.clustering import pivot_clustering
    from el.queries import REGISTRY

    fn = REGISTRY["cl1_pivot_clustering"].fn
    out = fn(spark, "/root/testdata/sf0.001")
    n_nodes = out.count()
    edges_nodes = out.select("node_id").distinct().count()
    assert n_nodes == edges_nodes  # one row per incident node
    # re-run the same fixture graph bounded at 3 rounds: must not raise
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id"
    )
    from pyspark.sql import functions as F

    a, b = d.alias("a"), d.alias("b")
    chain = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .where(F.col("a.doc_id") % 6 != 5)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    cut = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 2)
        .where(F.col("a.doc_id") % 6 == 0)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    pivot_clustering(chain.unionByName(cut), max_iter=3).count()


# ---------------------------------------------------------------------------
# hits (g3): Kleinberg hubs and authorities
# ---------------------------------------------------------------------------


def _numpy_hits(edges, n_iter=10):
    """Dense synchronous HITS with L1 normalization, hub half-step
    reading the same-iteration new authorities (mirrors el.clustering
    .hits up to the decimal-quantized sums)."""
    import numpy as np

    es = sorted(set(edges))
    nodes = sorted({v for e in es for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for s, d in es:
        A[idx[s], idx[d]] = 1.0
    h = np.full(n, 1.0 / n)
    a = np.zeros(n)
    for _ in range(n_iter):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    return (
        {v: h[idx[v]] for v in nodes},
        {v: a[idx[v]] for v in nodes},
    )


def test_hits_matches_dense_reference(spark):
    from el.clustering import hits

    # a portal (0) pointing at everything, an authority (3) pointed
    # at by everyone, plus noise
    edges = [
        (0, 1), (0, 2), (0, 3), (0, 4),
        (1, 3), (2, 3), (4, 3), (1, 2), (4, 1),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r["hub"], r["authority"]) for r in hits(df).collect()}
    wh, wa = _numpy_hits(edges)
    assert set(got) == set(wh)
    for v in wh:
        assert abs(got[v][0] - wh[v]) < 1e-9, ("hub", v)
        assert abs(got[v][1] - wa[v]) < 1e-9, ("auth", v)
    # both score vectors are L1-normalized
    assert abs(sum(g[0] for g in got.values()) - 1.0) < 1e-9
    assert abs(sum(g[1] for g in got.values()) - 1.0) < 1e-9
    # the portal is the top hub; the sink is the top authority
    assert max(got, key=lambda v: got[v][0]) == 0
    assert max(got, key=lambda v: got[v][1]) == 3


def test_hits_dedups_edges_and_is_partition_invariant(spark):
    from el.clustering import hits

    edges = [(0, 1), (0, 1), (1, 2), (2, 0), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r.node: (r["hub"], r["authority"]) for r in hits(df).collect()}
    wh, wa = _numpy_hits(edges)
    for v in wh:
        assert abs(base[v][0] - wh[v]) < 1e-9
        assert abs(base[v][1] - wa[v]) < 1e-9
    again = {
        r.node: (r["hub"], r["authority"])
        for r in hits(df.repartition(5)).collect()
    }
    assert again == base  # bit-identical across partitionings


def test_hits_rejects_empty_graph(spark):
    from el.clustering import hits

    df = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="empty edge set"):
        hits(df)


# ---------------------------------------------------------------------------
# split_low_cohesion: cluster repair via pivot re-clustering
# ---------------------------------------------------------------------------


def _repair_fixture(spark):
    # cluster 0: a 5-node CHAIN (density 4/10 < 1/2 -> flagged);
    # cluster 100: a 4-node CLIQUE (6/6 -> healthy);
    # cluster 200: a pair with its edge (1/1 -> healthy)
    clusters = [(i, 0) for i in range(5)]
    clusters += [(100 + i, 100) for i in range(4)]
    clusters += [(200, 200), (201, 200)]
    chain = [(i, i + 1) for i in range(4)]
    clique = [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
    edges = chain + clique + [(200, 201)]
    cdf = spark.createDataFrame(clusters, "mention_id long, cluster_id long")
    edf = spark.createDataFrame(edges, "a_id long, b_id long")
    return cdf, edf, edges


def test_split_low_cohesion_splits_chain_keeps_clique(spark):
    from el.clustering import split_low_cohesion

    cdf, edf, edges = _repair_fixture(spark)
    rows = split_low_cohesion(cdf, edf).collect()
    out = {r["mention_id"]: (r["cluster_id"], r["was_split"]) for r in rows}
    assert len(out) == 11  # totality: every input member exactly once
    # healthy clusters byte-identical, not flagged
    assert all(out[100 + i] == (100, False) for i in range(4))
    assert out[200] == (200, False) and out[201] == (200, False)
    # the chain was flagged and re-clustered: >= 2 sub-clusters now,
    # and every member sits with a pivot it shares a DIRECT edge with
    sub = {m: out[m][0] for m in range(5)}
    assert all(out[m][1] for m in range(5))
    assert len(set(sub.values())) >= 2
    eset = {frozenset(e) for e in edges}
    for m, cl in sub.items():
        assert cl == m or frozenset((m, cl)) in eset


def test_split_low_cohesion_only_refines(spark):
    """The result partition REFINES the input: two members of
    different input clusters never merge."""
    from el.clustering import split_low_cohesion

    cdf, edf, _ = _repair_fixture(spark)
    rows = split_low_cohesion(cdf, edf).collect()
    inp = {r["mention_id"]: r["cluster_id"] for r in cdf.collect()}
    by_new = {}
    for r in rows:
        by_new.setdefault(r["cluster_id"], set()).add(r["mention_id"])
    for members in by_new.values():
        assert len({inp[m] for m in members}) == 1


def test_split_low_cohesion_threshold_and_min_members(spark):
    from el.clustering import split_low_cohesion

    cdf, edf, _ = _repair_fixture(spark)
    # density threshold 0 -> nothing ever flagged, output == input
    rows = split_low_cohesion(cdf, edf, min_density_num=0).collect()
    assert all(not r["was_split"] for r in rows)
    inp = {r["mention_id"]: r["cluster_id"] for r in cdf.collect()}
    assert {r["mention_id"]: r["cluster_id"] for r in rows} == inp
    # min_members above every cluster size -> same
    rows = split_low_cohesion(cdf, edf, min_members=99).collect()
    assert all(not r["was_split"] for r in rows)
    # threshold 1/1 with min_members=2: even the pair cluster (1/1
    # density, NOT < 1) stays; the clique (6/6) stays; chain splits
    rows = split_low_cohesion(
        cdf, edf, min_density_num=1, min_density_den=1, min_members=2
    ).collect()
    split_ids = {r["mention_id"] for r in rows if r["was_split"]}
    assert split_ids == set(range(5))


def test_split_low_cohesion_composes_with_cc_pipeline(spark):
    """End-to-end: closure over a bridged graph over-merges; the
    repair splits at the bridge (low-priority crafted via md5 is
    avoided by passing an explicit seed-independent check: we only
    assert the two dense halves never share a cluster after repair)."""
    from el.clustering import connected_components, split_low_cohesion

    # two 4-cliques joined by ONE bridge edge
    a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    b = [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
    bridge = [(3, 10)]
    edf = spark.createDataFrame(a + b + bridge, "a_id long, b_id long")
    cc = connected_components(
        edf.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    ).select(
        F.col("mention_id"), F.col("cluster_id")
    )
    assert cc.select("cluster_id").distinct().count() == 1  # over-merged
    rows = split_low_cohesion(cc, edf).collect()
    out = {r["mention_id"]: r["cluster_id"] for r in rows}
    left = {out[i] for i in range(4)}
    right = {out[10 + i] for i in range(4)}
    assert left.isdisjoint(right)  # the bridge no longer welds them
