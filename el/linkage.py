"""Two-table record linkage (the reference's namesake capability,
SURVEY.md §0: record-linkage / entity-resolution — here as a generic
left-table-to-right-table fuzzy join, complementing the single-table
self-dedup ops in el.dedup).

Plan shape (scale-first, BASELINE.json north_star "salted multi-key
blocking ... skew-aware hash joins"):

  normalize both names -> derive block key(s) -> equi-join the two
  sides on the block key (shuffle hash/SMJ, linear in block volume,
  never a cross join) -> distinct candidate pairs -> one vectorized
  Jaro-Winkler verify pass (el.simfn numpy kernel, one Arrow batch
  boundary) -> threshold filter.

At 100 TB neither side is broadcastable; the equi-join shuffles both
sides on the block key only, candidate volume is bounded by the
per-block cap (cap_k, same W1 discipline as el.blocking.cap_blocks),
and the Python kernel sees only distinct surviving candidates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_name(col: Column) -> Column:
    """F1 normalization, bit-parity with the DuckDB oracle form
    ``trim(regexp_replace(lower(x), '[^a-z0-9 ]', '', 'g'))``."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", ""))


def _block_keys(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_tokens: int,
    prefix_len: int,
    explode_all: bool,
    block_on: list[str] | None,
) -> DataFrame:
    """(id, norm, block_key) rows. Default: ONE structured key per
    record — any exact-match ``block_on`` attribute values plus the
    first ``min(block_tokens, available)`` tokens' ``prefix_len``-char
    prefixes (typo-tolerant leading-token key), '|'-joined; a
    single-token name still gets a key (only empty names drop).
    ``explode_all=True`` is the recall-oriented multi-key variant:
    every token >= 3 chars emits a key (el.blocking name_token
    style — names whose tokens are all shorter emit none), at the
    cost of more candidates."""
    extras = [F.col(c).cast("string") for c in (block_on or [])]
    norm = normalize_name(F.col(name_col)).alias("norm")
    toks = F.split(F.col("norm"), " +")
    base = df.select(F.col(id_col).alias("rid"), norm, *extras)
    for c in block_on or []:
        # equi-join semantics: a NULL block attribute matches nothing
        # (concat_ws would silently fold NULL to '' otherwise)
        base = base.where(F.col(c).isNotNull())
    extra_cols = [F.col(c) for c in (block_on or [])]
    if explode_all:
        return (
            base.select(
                "rid",
                "norm",
                *extra_cols,
                F.explode(toks).alias("tok"),
            )
            .where(F.length("tok") >= 3)
            .select(
                "rid",
                "norm",
                F.concat_ws(
                    "|", *extra_cols, F.substring("tok", 1, prefix_len)
                ).alias("block_key"),
            )
            .dropDuplicates(["rid", "block_key"])
        )
    return base.where(F.length("norm") > 0).select(
        "rid",
        "norm",
        F.concat_ws(
            "|",
            *extra_cols,
            F.array_join(
                F.transform(
                    F.slice(toks, 1, block_tokens),
                    lambda t: F.substring(t, 1, prefix_len),
                ),
                " ",
            ),
        ).alias("block_key"),
    )


def link_tables(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_name: str,
    right_name: str,
    threshold: float = 0.9,
    block_tokens: int = 2,
    prefix_len: int = 4,
    explode_all: bool = False,
    cap_k: int | None = None,
    block_on: tuple[list[str] | None, list[str] | None] = (None, None),
) -> DataFrame:
    """Fuzzy-link two tables on a name column. ``block_on`` optionally
    names exact-match structured attributes per side (the classic ER
    pattern: block on e.g. (brand, size) exactly, verify the name
    fuzzily); both sides' lists must be same-length and type-aligned.
    Returns one row per linked pair: ``(l_id, r_id, jw)`` with ``jw``
    the Jaro-Winkler similarity of the normalized names, rounded to 4
    (the el.simfn kernel is round(4)-parity with DuckDB's
    jaro_winkler_similarity, pinned by the f5 oracle), kept where
    ``jw >= threshold``."""
    from el.dedup import cap_bucket_members
    from el.simfn import jaro_winkler

    lk = _block_keys(left, left_id, left_name, block_tokens, prefix_len,
                     explode_all, block_on[0])
    rk = _block_keys(right, right_id, right_name, block_tokens, prefix_len,
                     explode_all, block_on[1])
    if cap_k is not None:
        # W1 per side: hot records capped in one block still surface
        # via their other keys when explode_all
        lk = cap_bucket_members(lk, "block_key", "rid", cap_k)
        rk = cap_bucket_members(rk, "block_key", "rid", cap_k)
    cands = (
        lk.alias("l")
        .join(rk.alias("r"), on="block_key")
        .select(
            F.col("l.rid").alias("l_id"),
            F.col("r.rid").alias("r_id"),
            F.col("l.norm").alias("norm_l"),
            F.col("r.norm").alias("norm_r"),
        )
        .dropDuplicates(["l_id", "r_id"])
    )

    @F.pandas_udf("double")
    def jw_udf(a, b):
        return pd.Series(
            jaro_winkler(a.fillna("").tolist(), b.fillna("").tolist())
        )

    # The kernel is pure; the marker is an optimizer fence — without
    # it Catalyst pushes the threshold filter below the projection and
    # duplicates the UDF (two ArrowEvalPython passes over every
    # candidate, plan-audited in test_plans.py).
    jw_udf = jw_udf.asNondeterministic()

    return (
        cands.select(
            "l_id",
            "r_id",
            F.round(jw_udf("norm_l", "norm_r"), 4).alias("jw"),
        )
        .where(F.col("jw") >= threshold)
    )


# -- Fellegi-Sunter probabilistic linkage (lk2) ---------------------------
#
# The classic probabilistic record-linkage model (Fellegi & Sunter
# 1969; the public Splink implementation popularized the exact-u
# estimation used here): each compared field contributes a Bayes
# factor m/u when it agrees and (1-m)/(1-u) when it does not, where
# m = P(agree | pair is a match) and u = P(agree | random non-match
# pair). The pair's match score is the product of its field factors.
#
# Determinism discipline (cross-engine hash-exact, the er5 pattern):
# u comes from EXACT integer sum-of-products over value frequencies
# (never sampling), m from exact labeled counts; each probability is
# ONE IEEE division, and the per-pair product multiplies the factors
# in the caller's fixed field order. No logs (transcendental) — the
# monotone Bayes factor itself is the score; callers wanting the
# Splink-style log2 "match weight" can take it for display only.


def field_agreements(
    cands: DataFrame,
    fields: list[str],
    l_prefix: str = "l_",
    r_prefix: str = "r_",
) -> DataFrame:
    """Comparison-vector (gamma) columns for candidate pairs: for each
    field ``f``, ``g_<f>`` is 1 iff ``<l_prefix><f>`` and
    ``<r_prefix><f>`` are BOTH non-null and equal, else 0 — a NULL
    never agrees (the block-key NULL discipline), and under the
    two-level FS model a NULL-vs-value comparison is evidence against,
    exactly like a disagreement. Pure per-row projection: no shuffle,
    whole-stage codegen."""
    out = cands
    for f in fields:
        lc, rc = F.col(l_prefix + f), F.col(r_prefix + f)
        out = out.withColumn(
            "g_" + f,
            (lc.isNotNull() & rc.isNotNull() & (lc == rc)).cast("int"),
        )
    return out


def estimate_u(left: DataFrame, right: DataFrame, fields: list[str]) -> DataFrame:
    """Exact u-probabilities — P(field agrees | uniformly random
    (left, right) pair) — WITHOUT materializing the quadratic pair
    space: for each field, u = sum_v cnt_l(v) * cnt_r(v) / (N_l * N_r)
    over the field's value frequencies (NULLs excluded from the
    numerator: a NULL never agrees — denominators keep all rows, the
    random-pair model). One row per field: ``(field, n_agree_pairs,
    n_pairs, u)`` with u the single exact-integer division.

    Scale shape: per field, two linear groupBy counts + one join on
    the DISTINCT values (bounded by field cardinality, not corpus
    size) + a 1-row sum — the Splink random-match estimation made
    exact. Never a cross join."""
    n_l, n_r = left.count(), right.count()
    parts = []
    for f in fields:
        cl = left.where(F.col(f).isNotNull()).groupBy(
            F.col(f).cast("string").alias("_v")
        ).agg(F.count("*").cast("long").alias("_cl"))
        cr = right.where(F.col(f).isNotNull()).groupBy(
            F.col(f).cast("string").alias("_v")
        ).agg(F.count("*").cast("long").alias("_cr"))
        agree = cl.join(cr, on="_v").agg(
            F.coalesce(
                F.sum(F.col("_cl") * F.col("_cr")), F.lit(0).cast("long")
            ).alias("n_agree_pairs")
        )
        parts.append(
            agree.select(
                F.lit(f).alias("field"),
                "n_agree_pairs",
                F.lit(int(n_l) * int(n_r)).cast("long").alias("n_pairs"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.withColumn(
        "u",
        F.col("n_agree_pairs").cast("double")
        / F.col("n_pairs").cast("double"),
    )


def estimate_m(gammas: DataFrame, fields: list[str]) -> DataFrame:
    """m-probabilities from a LABELED match set: ``gammas`` is
    field_agreements output restricted to known-match pairs; m =
    P(agree | match) per field, exact counts, one global aggregate.
    One row per field: ``(field, n_agree, n_matches, m)``. (Splink
    estimates m by EM when labels are scarce; with labels, this exact
    count is the maximum-likelihood estimate.)"""
    aggs = [F.count("*").cast("long").alias("n_matches")] + [
        F.sum("g_" + f).cast("long").alias("_a_" + f) for f in fields
    ]
    row = gammas.agg(*aggs)
    parts = [
        row.select(
            F.lit(f).alias("field"),
            F.col("_a_" + f).alias("n_agree"),
            "n_matches",
            (
                F.col("_a_" + f).cast("double")
                / F.col("n_matches").cast("double")
            ).alias("m"),
        )
        for f in fields
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fs_score(
    gammas: DataFrame,
    params: dict[str, tuple[float, float]],
    prior: float | None = None,
) -> DataFrame:
    """Fellegi-Sunter match score per candidate pair: multiply each
    field's Bayes factor — ``m/u`` on agreement (``g_<f>`` == 1),
    ``(1-m)/(1-u)`` on disagreement — in the ITERATION ORDER of
    ``params`` (fixed multiply order => bit-identical doubles across
    engines and partitionings). Appends ``bayes_factor`` and, when a
    prior match probability ``lambda`` is given, the posterior
    ``match_prob = (prior*K) / (prior*K + 1 - prior)``.

    ``params`` maps field -> (m, u): the persisted model artifact
    (estimate_m / estimate_u outputs — fit once on the catalog scale,
    reuse per crawl, the IVF/TF-IDF artifact discipline). Pure per-row
    expressions over already-blocked candidates: no shuffle, no UDF."""
    for f, (m, u) in params.items():
        if not (0.0 < u < 1.0) or not (0.0 < m <= 1.0):
            raise ValueError(f"field {f}: need 0 < u < 1 and 0 < m <= 1, got m={m}, u={u}")
        if m <= u:
            raise ValueError(
                f"field {f}: m={m} <= u={u} — agreement would count "
                "against a match; check the estimates"
            )
    k = F.lit(1.0)
    for f, (m, u) in params.items():
        k = k * F.when(
            F.col("g_" + f) == 1, F.lit(float(m)) / F.lit(float(u))
        ).otherwise(F.lit(1.0 - float(m)) / F.lit(1.0 - float(u)))
    out = gammas.withColumn("bayes_factor", k)
    if prior is not None:
        lam = float(prior)
        if not (0.0 < lam < 1.0):
            raise ValueError(f"prior must be in (0,1), got {prior}")
        bk = F.lit(lam) * F.col("bayes_factor")
        out = out.withColumn(
            "match_prob", bk / (bk + F.lit(1.0 - lam))
        )
    return out


def gamma_pattern_counts(gammas: DataFrame, fields: list[str]) -> DataFrame:
    """Collapse candidate-pair comparison vectors to the bounded
    (gamma-pattern -> exact count) table: one groupBy over the g_*
    columns. With k fields the output has at most 2^k rows however
    many pairs went in — this is the E-step input for estimate_em and
    the Splink-style diagnostics table (which patterns dominate the
    candidate set). Exact BIGINT counts, linear one-pass aggregate."""
    return gammas.groupBy(*["g_" + f for f in fields]).agg(
        F.count("*").cast("long").alias("n_pairs")
    )


def estimate_em(
    gammas: DataFrame,
    fields: list[str],
    iters: int = 25,
    init_m: float = 0.9,
    init_u: float = 0.1,
    init_lambda: float = 0.1,
    eps: float = 1e-6,
) -> tuple[dict[str, tuple[float, float]], float]:
    """UNSUPERVISED m/u estimation by EM over the two-class
    conditional-independence mixture (Winkler 1988; the estimation
    loop behind Splink when no labels exist): candidate pairs are a
    mixture of matches (field agreement prob m_f) and non-matches
    (u_f) with mixing weight lambda; EM alternates pair-class
    responsibilities (E) and frequency re-estimates (M).

    Scale shape: the corpus-sized work is ONE exact groupBy —
    gamma_pattern_counts — collapsing N pairs to <= 2^k pattern rows
    (k = len(fields), the TF-IDF/bloom bounded-driver-state
    discipline); EM then runs ``iters`` fixed iterations over that
    tiny table driver-side in numpy. Deterministic: exact integer
    counts + fixed iteration count + fixed field order => the same
    doubles at any parallelism (pinned in tests). Estimates are
    clamped to [eps, 1-eps] so degenerate fields (always/never
    agreeing) cannot zero a Bayes factor.

    Returns ``(params, lambda)`` with params mapping field ->
    (m, u) — exactly fs_score's model-artifact shape."""
    import numpy as np

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not fields:
        raise ValueError("fields must be non-empty")
    rows = gamma_pattern_counts(gammas, fields).collect()
    if not rows:
        raise ValueError("no candidate pairs to estimate from")
    # fixed row order => fixed float-summation order => bit-identical
    # estimates at any parallelism (collect() order is not)
    rows = sorted(rows, key=lambda r: tuple(r["g_" + f] for f in fields))
    k = len(fields)
    g = np.array(
        [[r["g_" + f] for f in fields] for r in rows], dtype=np.float64
    )  # (p, k) pattern matrix
    c = np.array([r["n_pairs"] for r in rows], dtype=np.float64)  # (p,)
    m = np.full(k, float(init_m))
    u = np.full(k, float(init_u))
    lam = float(init_lambda)
    lo, hi = float(eps), 1.0 - float(eps)
    for _ in range(iters):
        # E: responsibility of the match class per pattern
        pm = np.prod(np.where(g == 1.0, m, 1.0 - m), axis=1) * lam
        pu = np.prod(np.where(g == 1.0, u, 1.0 - u), axis=1) * (1.0 - lam)
        r = pm / (pm + pu)
        # M: weighted frequency re-estimates
        wm, wu = c * r, c * (1.0 - r)
        lam = min(max(float(wm.sum() / c.sum()), lo), hi)
        m = np.clip((wm[:, None] * g).sum(axis=0) / wm.sum(), lo, hi)
        u = np.clip((wu[:, None] * g).sum(axis=0) / wu.sum(), lo, hi)
    params = {f: (float(m[i]), float(u[i])) for i, f in enumerate(fields)}
    return params, lam


def fuse_records(
    df: DataFrame, cluster_col: str, attrs: list[str]
) -> DataFrame:
    """Golden-record attribute fusion (the survivorship step AFTER
    dd8 picks clusters): per cluster, each attribute independently
    resolves to its most frequent non-NULL value, ties broken by the
    smaller value — the classic majority-vote conflict-resolution
    strategy of data-fusion surveys (Bleiholder & Naumann 2008),
    deterministic end to end. Records with a NULL attribute abstain
    from that attribute's vote; a cluster whose every record
    abstains fuses to NULL.

    Returns one row per cluster: ``(<cluster_col>, n_records,
    <attr>...)``. Scale shape: one count aggregate plus, per
    attribute, a (cluster, value) count -> per-cluster rank-1 window
    -> equi-join back on the cluster key — every stage shuffles on
    the SAME cluster key, so the exchange is paid once and reused;
    nothing is ever collected."""
    if not attrs:
        raise ValueError("attrs must be non-empty")
    base = df.groupBy(F.col(cluster_col)).agg(
        F.count("*").cast("long").alias("n_records")
    )
    out = base
    for a in attrs:
        w = Window.partitionBy(cluster_col).orderBy(
            F.col("_cnt").desc(), F.col(a).asc()
        )
        winner = (
            df.where(F.col(a).isNotNull())
            .groupBy(cluster_col, a)
            .agg(F.count("*").alias("_cnt"))
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select(cluster_col, a)
        )
        out = out.join(winner, on=cluster_col, how="left")
    return out


def mutual_best_match(
    pairs: DataFrame,
    left_col: str = "a_id",
    right_col: str = "b_id",
    score_col: str = "score",
) -> DataFrame:
    """ONE-TO-ONE assignment over scored candidate pairs via
    symmetric best match: keep exactly the pairs that are
    simultaneously their LEFT record's best candidate and their
    RIGHT record's best candidate `[PK: the "mutual best match" /
    reciprocal-nearest-neighbor rule standard in record-linkage
    post-processing (e.g. Splink's one-to-one linking guidance) and
    in bipartite graph matching as the first round of distributed
    greedy matching]`. Deduplication-by-linkage needs this when each
    left entity can match AT MOST one right entity (person<->account,
    product<->listing): without the constraint a hub record absorbs
    every candidate above threshold.

    Properties (pinned by tests): the result is a matching — each
    left id and each right id appears at most once (two pairs sharing
    a left id would both need per-left rank 1); it is a subset of the
    input; every kept pair carries its left's maximum score AND its
    right's maximum score. Ties break deterministically by the other
    side's id ascending, so the output is stable across partitionings
    and engines. Mutual-best is the scalable 2-shuffle core of greedy
    weighted matching; iterating it on the residual graph (drop
    matched nodes, repeat) converges to the full greedy matching —
    one round recovers the overwhelming bulk of high-confidence
    links, which is the record-linkage use case.

    Scale shape: two hash exchanges (by left key, by right key), each
    rank-1 filter compiling to WindowGroupLimit (per-partition
    running top-1, never a full sort of a group's candidates).
    Returns the input columns unchanged, filtered."""
    wl = Window.partitionBy(left_col).orderBy(
        F.desc(score_col), F.col(right_col)
    )
    wr = Window.partitionBy(right_col).orderBy(
        F.desc(score_col), F.col(left_col)
    )
    return (
        pairs.withColumn("_rl", F.row_number().over(wl))
        .withColumn("_rr", F.row_number().over(wr))
        .where((F.col("_rl") == 1) & (F.col("_rr") == 1))
        .drop("_rl", "_rr")
    )


def greedy_matching(
    pairs: DataFrame,
    left_col: str = "a_id",
    right_col: str = "b_id",
    score_col: str = "score",
    rounds: int = 3,
) -> DataFrame:
    """Distributed greedy weighted bipartite matching by ITERATED
    mutual best match `[PK: the classic parallel greedy matching
    scheme — locally-dominant edge matching (Manne & Bisseling 2007
    and the MapReduce adaptations): every mutually-best edge is
    locally dominant, all of them can match simultaneously without
    conflicts, and repeating on the residual graph (both endpoints
    of matched edges removed) reproduces EXACTLY the sequential
    greedy-by-weight matching after enough rounds]`. One round keeps
    the high-confidence core (lk4); ``rounds`` controls how far down
    the score order the 1:1 assignment is pushed — each round is two
    WindowGroupLimit exchanges on the residual, and the residual
    shrinks geometrically in practice.

    Deterministic: ties inherit mutual_best_match's other-side-id
    tie-break, so the round-r matched set (and therefore the final
    matching) is unique and engine-independent. Each round's result
    is localCheckpoint-ed (the j7 discipline) so lineage stays flat.

    Returns the matched pairs with a 1-based ``match_round``
    column."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    remaining = pairs.select(left_col, right_col, score_col)
    out = None
    for r in range(1, rounds + 1):
        m = mutual_best_match(
            remaining, left_col, right_col, score_col
        ).withColumn("match_round", F.lit(r)).localCheckpoint(eager=True)
        out = m if out is None else out.unionByName(m)
        if r < rounds:
            remaining = (
                remaining.join(
                    m.select(left_col), on=left_col, how="left_anti"
                )
                .join(m.select(right_col), on=right_col, how="left_anti")
                .localCheckpoint(eager=True)
            )
            if remaining.limit(1).count() == 0:
                break
    return out


def value_pair_frequencies(
    left: DataFrame, right: DataFrame, fields: list[str]
) -> DataFrame:
    """Per-VALUE random-pair agreement counts — the term-frequency
    model behind value-specific u-probabilities `[PK: Winkler 1989
    value-specific (frequency-based) matching weights; Splink's
    tf_adjustments]`: for each field and value v,
    ``n_value_pairs = cnt_l(v) * cnt_r(v)`` — the exact number of
    random (left, right) pairs that agree on exactly v. Summing over
    a field's values reproduces estimate_u's ``n_agree_pairs``
    (pinned in tests), so this is estimate_u BEFORE its final sum:
    the same two linear groupBys + one distinct-value join per field,
    output bounded by field cardinality, never a cross join.

    Returns ``(field, value, n_value_pairs)`` — a deletion-of-detail
    artifact small enough to broadcast into scoring (persist it next
    to the m/u params with the model-artifact discipline)."""
    parts = []
    for f in fields:
        cl = (
            left.where(F.col(f).isNotNull())
            .groupBy(F.col(f).cast("string").alias("value"))
            .agg(F.count("*").cast("long").alias("_cl"))
        )
        cr = (
            right.where(F.col(f).isNotNull())
            .groupBy(F.col(f).cast("string").alias("value"))
            .agg(F.count("*").cast("long").alias("_cr"))
        )
        parts.append(
            cl.join(cr, on="value").select(
                F.lit(f).alias("field"),
                "value",
                (F.col("_cl") * F.col("_cr")).cast("long").alias(
                    "n_value_pairs"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fs_score_tf(
    gammas: DataFrame,
    params: dict[str, tuple[float, float]],
    vfreq: DataFrame,
    n_pairs: int,
    tf_fields: list[str] | None = None,
    prior: float | None = None,
    l_prefix: str = "l_",
) -> DataFrame:
    """Fellegi-Sunter scoring with TERM-FREQUENCY-adjusted agreement
    weights `[PK: Splink tf_adjustments; Winkler 1989]`: agreeing on
    a RARE value ("Zylberschlag") is far stronger evidence than
    agreeing on a common one ("Smith"), but the plain field-level u
    averages that away. For a tf-adjusted field the agreement Bayes
    factor becomes ``m / u_v`` with the value-specific
    ``u_v = n_value_pairs / n_pairs`` (P(random pair agrees on
    exactly v)) from value_pair_frequencies; disagreement keeps the
    field-level ``(1-m)/(1-u)`` exactly as fs_score.

    A value ABSENT from ``vfreq`` (stale persisted artifact scoring a
    newer corpus) falls back to the field-level u — the conservative
    Splink behavior; never a divide-by-zero (a pair agreeing on v
    implies both sides contain v whenever vfreq was fit on the same
    corpora).

    Plan shape: one BROADCAST left join per tf field (vfreq is
    bounded by field cardinality) on the pair's left-side value, then
    the same fixed-multiply-order pure projection as fs_score —
    bit-identical doubles across engines/partitionings, no extra
    shuffle, no UDF. ``tf_fields`` defaults to every param field."""
    tf_fields = list(params) if tf_fields is None else list(tf_fields)
    for f, (m, u) in params.items():
        if not (0.0 < u < 1.0) or not (0.0 < m <= 1.0):
            raise ValueError(
                f"field {f}: need 0 < u < 1 and 0 < m <= 1, got m={m}, u={u}"
            )
        if m <= u:
            raise ValueError(
                f"field {f}: m={m} <= u={u} — agreement would count "
                "against a match; check the estimates"
            )
    unknown = [f for f in tf_fields if f not in params]
    if unknown:
        raise ValueError(f"tf_fields not in params: {unknown}")
    if n_pairs <= 0:
        raise ValueError(f"n_pairs must be positive, got {n_pairs}")
    out = gammas
    for f in tf_fields:
        vf = vfreq.where(F.col("field") == f).select(
            F.col("value").alias("_tfv_" + f),
            F.col("n_value_pairs").alias("_nvp_" + f),
        )
        out = out.join(
            F.broadcast(vf),
            out[l_prefix + f].cast("string") == F.col("_tfv_" + f),
            "left",
        ).drop("_tfv_" + f)
    k = F.lit(1.0)
    for f, (m, u) in params.items():
        if f in tf_fields:
            u_v = F.col("_nvp_" + f).cast("double") / F.lit(float(n_pairs))
            agree = F.lit(float(m)) / F.coalesce(u_v, F.lit(float(u)))
        else:
            agree = F.lit(float(m)) / F.lit(float(u))
        k = k * F.when(F.col("g_" + f) == 1, agree).otherwise(
            F.lit(1.0 - float(m)) / F.lit(1.0 - float(u))
        )
    out = out.withColumn("bayes_factor", k).drop(
        *["_nvp_" + f for f in tf_fields]
    )
    if prior is not None:
        lam = float(prior)
        if not (0.0 < lam < 1.0):
            raise ValueError(f"prior must be in (0,1), got {prior}")
        bk = F.lit(lam) * F.col("bayes_factor")
        out = out.withColumn("match_prob", bk / (bk + F.lit(1.0 - lam)))
    return out
