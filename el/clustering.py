"""Transitive clustering: iterative large-star / small-star connected
components on DataFrames (Kiveris et al., "Connected Components in
MapReduce and Beyond", ACM SoCC 2014 — converges in O(log n) rounds).

Spark-first mechanics — one round is one Spark execution:
- each star step is one ``groupBy(src).agg(collect_set(dst))`` and an
  explode (collect_set dedups each neighbourhood, so no join and no
  per-step distinct); the round ends in one ``distinct``;
- that distinct is ``localCheckpoint(eager=True)``ed, which cuts the
  lineage (iterative rounds otherwise stack an unbounded plan);
- convergence is detected via a signature (row count + XOR of
  xxhash64(src,dst)) that ``DataFrame.observe`` gathers on the
  checkpoint itself, instead of a separate aggregate job;
- the driver participates only in the loop condition (SURVEY.md §3.2).

Correctness oracle: el.testing.union_find (property test on random
graphs, tests/test_clustering.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _oriented(edges: DataFrame) -> DataFrame:
    """Undirected edges as (hi, lo), self-loops dropped."""
    return edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (hi, lo), self-loops dropped, distinct."""
    return _oriented(edges).distinct()


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star step then one small-star step over hi->lo edges;
    returns the round's hi->lo edge multiset (callers dedup it).

    Large star: each u connects every strictly-larger neighbour to
    m = min(N(u) u {u}). Small star: each u connects itself and every
    smaller neighbour other than m to m = min(N(u)). Both outputs are
    hi->lo with no self-loops, and collect_set dedups each
    neighbourhood, so neither step needs a distinct or a join."""
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    large = (
        nbrs.groupBy("src")
        .agg(F.collect_set("dst").alias("n"))
        .select(
            F.explode(F.filter("n", lambda v: v > F.col("src"))).alias("src"),
            F.least(F.array_min("n"), F.col("src")).alias("dst"),
        )
    )
    return (
        large.groupBy("src")
        .agg(F.collect_set("dst").alias("n"))
        .select("src", "n", F.array_min("n").alias("m"))
        .select(
            F.explode(
                F.concat(
                    F.filter("n", lambda v: v != F.col("m")), F.array("src")
                )
            ).alias("src"),
            F.col("m").alias("dst"),
        )
    )


def _signature(metrics: dict) -> tuple[int, int]:
    """Round signature (row count, XOR of xxhash64(src, dst)) from the
    metrics observed on the round's checkpoint."""
    return int(metrics["n"]), int(metrics["h"] or 0)


def connected_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """edges(src,dst) -> (mention_id, cluster_id) for every node that
    appears in an edge; cluster_id = min member id of the component.

    Nodes with no edges are absent — callers assign singletons via a
    left join (see clusters_of)."""
    # no distinct: the first round's collect_set dedups the input
    e = _oriented(edges).localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        obs = Observation()
        e = (
            _star_round(e)
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        sig = _signature(obs.get)
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: e is a star forest (node -> root); its rows are
    # distinct and never self-loops, so no member row equals a root
    # row (r, r) and the union needs no distinct
    members = e.select(
        F.col("src").alias("mention_id"), F.col("dst").alias("cluster_id")
    )
    roots = e.select(F.col("dst").alias("mention_id")).distinct().withColumn(
        "cluster_id", F.col("mention_id")
    )
    return members.unionByName(roots)


def clusters_of(mentions: DataFrame, edges: DataFrame) -> DataFrame:
    """Full cluster table over all mentions (singletons included)."""
    comp = connected_components(edges)
    return (
        mentions.select("mention_id", "url")
        .join(comp, on="mention_id", how="left")
        .select(
            "mention_id",
            "url",
            F.coalesce("cluster_id", "mention_id").alias("cluster_id"),
        )
    )


def pagerank(
    edges: DataFrame, damping: float = 0.85, n_iter: int = 10
) -> DataFrame:
    """Directed-graph PageRank after exactly ``n_iter`` synchronous
    power iterations from the uniform start — the web-graph authority
    prior Common-Crawl-scale pipelines keep next to text-quality
    gates (CCNet/RefinedWeb-style centrality signals at the url or
    domain grain).

    Semantics pinned for cross-engine exactness (the g1 oracle
    recomputes every iteration independently in DuckDB):
    - directed edges are deduplicated; nodes = distinct endpoints;
    - per iteration: contribution = rank / out_degree (one IEEE
      division), incoming mass summed via the decimal(28,12)
      exact-sum trick (order-independent, so bit-identical across
      engines AND partitionings; scale 12 suits test-scale graphs —
      at web scale, where ranks sit near 1/N, raise the scale with
      log10(N) to keep significant digits), then
      rank' = (1-d)/N + d * (incoming + dangling_mass/N);
    - dangling nodes (no out-edges) redistribute their mass
      uniformly; the mass is a 1-row exact-decimal aggregate per
      round that rides along as a broadcast cross join, so the
      driver never participates inside an iteration.

    Scale: each round is one equi-join on src + one groupBy on dst —
    the same node-id shuffle pattern as the CC kernel — and
    ``localCheckpoint(eager=True)`` per round cuts the lineage so the
    plan stays round-sized. Returns (node, rank)."""
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = float(nodes.count())
    outd = e.groupBy("src").agg(F.count("*").cast("double").alias("outd"))
    ed = e.join(outd, "src").localCheckpoint(eager=True)
    tele = (1.0 - damping) / n
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("rank"))
    for _ in range(n_iter):
        inc = (
            ranks.join(ed, F.col("node") == F.col("src"))
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("outd")).cast("decimal(28,12)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        # the dangling mass rides along as a broadcast 1-row cross join
        dm = ranks.join(outd, F.col("node") == F.col("src"), "left_anti").agg(
            F.coalesce(
                F.sum(F.col("rank").cast("decimal(28,12)")).cast("double"),
                F.lit(0.0),
            ).alias("dm")
        )
        ranks = (
            nodes.join(inc, nodes.node == inc.dst, "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "node",
                (
                    F.lit(tele)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dm") / F.lit(n))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def cluster_cohesion(
    clusters: DataFrame,
    edges: DataFrame,
    id_col: str = "mention_id",
    cluster_col: str = "cluster_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    score_col: str | None = None,
) -> DataFrame:
    """Per-cluster cohesion audit — the production check that a
    transitive closure did not over-merge: connected components
    guarantee only CONNECTIVITY, so one spurious bridge edge welds
    two entities into a chain whose intra-edge density collapses.
    This rolls the verified edge set back onto the cluster
    assignment and reports, per cluster, exact integers a reviewer
    (or a downstream splitter) can threshold on:

    ``(cluster_id, n_members, n_possible_pairs, n_intra_edges
    [, min_score, max_score])`` — n_possible_pairs = C(n,2), so
    density = n_intra_edges / n_possible_pairs and a big cluster
    whose density is near 1/n_members is a chain, not a clique.
    min_score (when ``score_col`` is given) surfaces the weakest
    verified edge inside the cluster — the bridge candidate.

    Edges whose endpoints sit in DIFFERENT clusters (or are missing
    from ``clusters``) are excluded here — cross_cluster_edges
    reports those. Scale shape: two equi-joins of the edge table
    against the (id -> cluster) map (shuffle on the id keys) and two
    linear groupBys on the cluster key; min/max are order-invariant
    aggregates, every other output an exact BIGINT, so results are
    hash-identical at any parallelism."""
    c = clusters.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cl")
    )
    sizes = c.groupBy("_cl").agg(
        F.count("*").cast("long").alias("n_members")
    )
    score = [F.col(score_col).alias("_s")] if score_col else []
    e = edges.select(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b"), *score
    )
    ej = e.join(
        c.select(F.col("_id").alias("_a"), F.col("_cl").alias("_ca")),
        on="_a",
    ).join(
        c.select(F.col("_id").alias("_b"), F.col("_cl").alias("_cb")),
        on="_b",
    )
    aggs = [F.count("*").cast("long").alias("n_intra_edges")]
    if score_col:
        aggs += [F.min("_s").alias("min_score"),
                 F.max("_s").alias("max_score")]
    intra = (
        ej.where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("_cl"))
        .agg(*aggs)
    )
    out = sizes.join(intra, on="_cl", how="left")
    n = F.col("n_members")
    cols = [
        F.col("_cl").alias(cluster_col),
        "n_members",
        (n * (n - F.lit(1)) / F.lit(2)).cast("long").alias(
            "n_possible_pairs"
        ),
        F.coalesce("n_intra_edges", F.lit(0)).cast("long").alias(
            "n_intra_edges"
        ),
    ]
    if score_col:
        cols += ["min_score", "max_score"]
    return out.select(*cols)


def cross_cluster_edges(
    clusters: DataFrame,
    edges: DataFrame,
    id_col: str = "mention_id",
    cluster_col: str = "cluster_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
    score_col: str | None = None,
) -> DataFrame:
    """Missed-merge candidate report, the complement of
    cluster_cohesion: verified edges whose endpoints landed in
    DIFFERENT clusters (possible only when the closure ran on a
    higher-threshold edge subset, an incremental absorb re-capped a
    block, or the clusters came from an external system — auditing
    that drift is exactly this operator's job). Rolls them up per
    unordered cluster pair:

    ``(cluster_a, cluster_b, n_cross_edges[, max_score])`` with
    cluster_a < cluster_b; max_score ranks which cluster pairs most
    deserve a merge review. Same two equi-joins as cluster_cohesion
    then one linear groupBy on the canonicalized pair key; exact
    BIGINT counts, order-invariant max."""
    c = clusters.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cl")
    )
    score = [F.col(score_col).alias("_s")] if score_col else []
    e = edges.select(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b"), *score
    )
    ej = (
        e.join(
            c.select(F.col("_id").alias("_a"), F.col("_cl").alias("_ca")),
            on="_a",
        )
        .join(
            c.select(F.col("_id").alias("_b"), F.col("_cl").alias("_cb")),
            on="_b",
        )
        .where(F.col("_ca") != F.col("_cb"))
    )
    aggs = [F.count("*").cast("long").alias("n_cross_edges")]
    if score_col:
        aggs.append(F.max("_s").alias("max_score"))
    return (
        ej.groupBy(
            F.least("_ca", "_cb").alias("cluster_a"),
            F.greatest("_ca", "_cb").alias("cluster_b"),
        )
        .agg(*aggs)
    )


def _md5_priority(col, seed: str = ""):
    """Deterministic 60-bit node priority from md5(id || seed) —
    the same cross-engine-stable primitive family as
    el.datasets.hash_bucket (md5 hex prefix -> base-16 integer), so
    a DuckDB oracle reproduces every priority bit-for-bit."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(seed))), 1, 15),
        16,
        10,
    ).cast("long")


def pivot_clustering(
    edges: DataFrame,
    seed: str = "",
    priorities: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Correlation clustering by hash-priority pivots — KwikCluster
    `[PK: Ailon, Charikar & Newman, "Aggregating inconsistent
    information: ranking and clustering", STOC 2005 (QuickCluster /
    KwikCluster, expected 3-approximation of correlation-clustering
    disagreements); parallelized via rounds of LOCALLY-MINIMAL pivots
    exactly as in Blelloch, Fineman & Shun, "Greedy sequential
    maximal independent set and matching are parallel on average",
    SPAA 2012 and Chierichetti, Dalvi & Kumar, "Correlation
    clustering in MapReduce", KDD 2014]`.

    The PRECISION-oriented alternative to ``connected_components``:
    transitive closure (j7) merges A-B-C into one entity even when
    the A-C edge was never verified, so one spurious bridge edge
    fuses two real entities. Pivot clustering only places a node in
    a pivot's cluster when a DIRECT verified edge to that pivot
    exists — chains fragment at unverified hops, bounding how far a
    bad edge can propagate (the classic ER over-merge fix).

    Algorithm (two phases, both DataFrame-native):

    1. Pivot selection = lexicographically-first MIS by priority:
       rounds where every node whose ``(priority, id)`` is strictly
       smaller than all ACTIVE neighbors' becomes a pivot; pivots
       and their neighbors leave the active set. Equals the
       sequential greedy MIS over the ``(priority, id)`` order
       `[PK: Blelloch et al. 2012]`, converging in O(log n) rounds
       w.h.p.; each round is one groupBy-min + two anti-joins, with
       ``localCheckpoint`` lineage cuts (the j7 discipline).
    2. Assignment: every non-pivot joins the minimum-``(priority,
       id)`` pivot adjacent to it in the ORIGINAL edge set (maximal
       independence guarantees one exists) — one equi-join + one
       groupBy-min. This reproduces EXACTLY the sequential
       KwikCluster assignment (a node is claimed by the first
       adjacent pivot in priority order), pinned against a pure
       python reference in tests/test_clustering.py.

    Priorities default to the md5-derived 60-bit hash of the id (a
    fixed "random" permutation — deterministic across runs, engines
    and partitionings); pass ``priorities`` (id, pri) to supply
    custom ones (crafted tests, re-cluster-with-new-permutation).

    Scale shape: the edge table is never squared — every step is an
    equi-join or a groupBy-min on node keys; rounds shrink
    geometrically. Returns ``(node_id, cluster_id, is_pivot)`` for
    every node incident to an edge; callers assign singletons via a
    left join exactly as with connected_components/clusters_of."""
    e0 = _canonical(edges).localCheckpoint(eager=True)
    nodes = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .distinct()
    )
    if priorities is None:
        nodes = nodes.withColumn("pri", _md5_priority(F.col("id"), seed))
    else:
        nodes = nodes.join(priorities.select("id", "pri"), on="id")
    active = nodes.localCheckpoint(eager=True)
    e = e0
    piv_acc: DataFrame | None = None
    for _ in range(max_iter):
        if active.limit(1).count() == 0:
            break
        nbrs = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        nb = nbrs.join(
            active.select(F.col("id").alias("dst"), F.col("pri").alias("dpri")),
            on="dst",
        )
        mn = nb.groupBy("src").agg(
            F.min(F.struct(F.col("dpri"), F.col("dst"))).alias("m")
        )
        piv = (
            active.join(mn, active["id"] == mn["src"], "left")
            .where(
                F.col("m").isNull()
                | (F.struct(F.col("pri"), F.col("id")) < F.col("m"))
            )
            .select("id", "pri")
            .localCheckpoint(eager=True)
        )
        covered = (
            nbrs.join(piv.select(F.col("id").alias("dst")), on="dst")
            .select(F.col("src").alias("id"))
            .distinct()
        )
        gone = piv.select("id").unionByName(covered).distinct()
        active = active.join(gone, on="id", how="left_anti").localCheckpoint(
            eager=True
        )
        e = (
            e.join(gone.select(F.col("id").alias("src")), on="src", how="left_anti")
            .join(gone.select(F.col("id").alias("dst")), on="dst", how="left_anti")
            .localCheckpoint(eager=True)
        )
        piv_acc = piv if piv_acc is None else piv_acc.unionByName(piv)
    if active.limit(1).count() != 0:
        raise RuntimeError(
            f"pivot_clustering did not converge in {max_iter} rounds"
        )
    if piv_acc is None:  # no edges at all
        return nodes.select(
            F.col("id").alias("node_id"),
            F.col("id").alias("cluster_id"),
            F.lit(True).alias("is_pivot"),
        )
    nbrs0 = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    assigned = (
        nbrs0.join(
            piv_acc.select(F.col("id").alias("dst"), F.col("pri").alias("ppri")),
            on="dst",
        )
        .join(piv_acc.select(F.col("id").alias("src")), on="src", how="left_anti")
        .groupBy("src")
        .agg(F.min(F.struct(F.col("ppri"), F.col("dst"))).alias("p"))
        .select(
            F.col("src").alias("node_id"),
            F.col("p.dst").alias("cluster_id"),
            F.lit(False).alias("is_pivot"),
        )
    )
    return assigned.unionByName(
        piv_acc.select(
            F.col("id").alias("node_id"),
            F.col("id").alias("cluster_id"),
            F.lit(True).alias("is_pivot"),
        )
    )


def hits(edges: DataFrame, n_iter: int = 10) -> DataFrame:
    """HITS hubs-and-authorities after exactly ``n_iter`` synchronous
    iterations `[PK: Kleinberg, "Authoritative sources in a
    hyperlinked environment", JACM 1999]` — the web-graph signal pair
    complementing PageRank (g1): an AUTHORITY is pointed at by good
    hubs (the entity-catalog page worth linking to), a HUB points at
    good authorities (the directory/portal page worth crawling from);
    crawl schedulers and catalog builders keep both next to the
    centrality prior.

    Semantics pinned for cross-engine exactness (the g3 oracle
    recomputes every iteration independently in DuckDB):
    - directed edges deduplicated; nodes = distinct endpoints;
      uniform 1/N start for both scores;
    - per iteration: authority_raw(v) = sum of hub(u) over in-edges
      u->v and then hub_raw(u) = sum of the NEW authority(v) over
      out-edges u->v, each summed via the decimal(28,12) exact-sum
      trick (order-independent => bit-identical across engines and
      partitionings, the g1 discipline);
    - L1 normalization after each half-step (divide by the
      exact-decimal total — one IEEE division per row; Kleinberg's
      normalization is arbitrary up to scale, and L1 keeps the
      whole computation transcendental-free where L2 would need
      sqrt); the total is a 1-row aggregate per half-step that rides
      along as a broadcast cross join (as pagerank's dangling mass
      does), so the driver never participates inside an iteration.

    Scale: each half-step is one equi-join on a node key + one
    groupBy — the same shuffle pattern as pagerank/CC — with
    ``localCheckpoint(eager=True)`` per round keeping the plan
    round-sized. Returns (node, hub, authority)."""
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    if e.limit(1).count() == 0:
        raise ValueError("hits: empty edge set — scores are undefined")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = float(nodes.count())
    hubs = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("h"))
    auth = None
    dec = "decimal(28,12)"
    for _ in range(n_iter):
        araw = (
            hubs.join(e, hubs.node == e.src)
            .select(F.col("dst"), F.col("h").cast(dec).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        # the L1 total rides along as a broadcast 1-row cross join
        # instead of a collect(): same mirrored IEEE division, but the
        # driver never blocks mid-half-step (one localCheckpoint per
        # half-step is the only materialization)
        az = araw.agg(F.sum(F.col("s").cast(dec)).cast("double").alias("z"))
        auth = (
            nodes.join(araw, nodes.node == araw.dst, "left")
            .crossJoin(F.broadcast(az))
            .select(
                "node",
                (
                    F.coalesce(F.col("s"), F.lit(0.0)) / F.col("z")
                ).alias("a"),
            )
            .localCheckpoint(eager=True)
        )
        hraw = (
            auth.join(e, auth.node == e.dst)
            .select(F.col("src"), F.col("a").cast(dec).alias("c"))
            .groupBy("src")
            .agg(F.sum("c").cast("double").alias("s"))
        )
        hz = hraw.agg(F.sum(F.col("s").cast(dec)).cast("double").alias("z"))
        hubs = (
            nodes.join(hraw, nodes.node == hraw.src, "left")
            .crossJoin(F.broadcast(hz))
            .select(
                "node",
                (
                    F.coalesce(F.col("s"), F.lit(0.0)) / F.col("z")
                ).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(hubs, on="node")
        .join(auth, on="node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("authority"))
    )


def split_low_cohesion(
    clusters: DataFrame,
    edges: DataFrame,
    min_density_num: int = 1,
    min_density_den: int = 2,
    min_members: int = 3,
    seed: str = "",
    id_col: str = "mention_id",
    cluster_col: str = "cluster_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Cluster REPAIR: split the over-merged clusters a transitive
    closure produced — the production action on cluster_cohesion's
    audit report. Closure guarantees connectivity, not density: one
    spurious bridge edge welds two real entities into a low-density
    chain. This operator re-clusters exactly those suspects with
    pivot_clustering (cl1 — a member stays only with a pivot it
    shares a DIRECT verified edge with), and leaves every healthy
    cluster byte-identical.

    A cluster is flagged when (exact integer cross-multiply, the el3
    discipline — no float density):

        n_members >= min_members  AND
        n_intra_edges * min_density_den
            < n_possible_pairs * min_density_num

    i.e. density below ``min_density_num/min_density_den`` (default
    1/2). Split clusters keep ids in the member-id space (pivot id =
    a member id), so new ids can never collide with an untouched
    cluster's (min-member) id — member sets are disjoint.

    Only-splits guarantee (pinned in tests): the result partition
    REFINES the input one — two records in different input clusters
    can never merge, because each flagged cluster is re-clustered on
    its INTRA edges alone.

    Scale shape: cluster_cohesion's audit (two id-keyed equi-joins +
    one cluster-key groupBy) -> broadcast-able flagged-id set ->
    pivot_clustering on the flagged subgraph only (delta-sized when
    the corpus is healthy) -> one union. Returns ``(id_col,
    cluster_col, was_split)``."""
    if min_density_num < 0 or min_density_den <= 0:
        raise ValueError(
            f"bad density threshold {min_density_num}/{min_density_den}"
        )
    audit = cluster_cohesion(
        clusters, edges, id_col=id_col, cluster_col=cluster_col,
        a_col=a_col, b_col=b_col,
    )
    flagged = audit.where(
        (F.col("n_members") >= int(min_members))
        & (
            F.col("n_intra_edges") * F.lit(int(min_density_den))
            < F.col("n_possible_pairs") * F.lit(int(min_density_num))
        )
    ).select(cluster_col).localCheckpoint(eager=True)
    c = clusters.select(id_col, cluster_col)
    flagged_members = c.join(
        F.broadcast(flagged), on=cluster_col, how="left_semi"
    )
    healthy = c.join(
        F.broadcast(flagged), on=cluster_col, how="left_anti"
    ).withColumn("was_split", F.lit(False))
    # intra edges of flagged clusters only: both endpoints flagged AND
    # in the SAME cluster (refinement guarantee)
    fm = flagged_members
    intra = (
        edges.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .join(
            fm.select(
                F.col(id_col).alias("_a"), F.col(cluster_col).alias("_ca")
            ),
            on="_a",
        )
        .join(
            fm.select(
                F.col(id_col).alias("_b"), F.col(cluster_col).alias("_cb")
            ),
            on="_b",
        )
        .where(F.col("_ca") == F.col("_cb"))
        .select(F.col("_a").alias("src"), F.col("_b").alias("dst"))
    )
    repaired = pivot_clustering(intra, seed=seed).select(
        F.col("node_id").alias(id_col),
        F.col("cluster_id").alias(cluster_col),
    )
    # defensive totality: a flagged member absent from the pivot output
    # (no intra edge — impossible for closure clusters, possible for
    # externally-supplied assignments) becomes its own singleton
    split_out = (
        flagged_members.select(id_col)
        .join(repaired, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col(cluster_col), F.col(id_col)).alias(cluster_col),
        )
        .withColumn("was_split", F.lit(True))
    )
    return healthy.unionByName(split_out)
