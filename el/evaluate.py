"""Pairwise evaluation: precision/recall/F1 on labeled pairs
(BASELINE.json gate: F1 >= 0.99 on labeled pairs within the same
blocking key), plus blocking recall (SURVEY.md §5.4).

A labeled pair (a_url, b_url) is predicted positive iff the PRIMARY
mention (mention_idx == 0, the first-extracted mention) of both urls
landed in the same cluster."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def primary_clusters(clusters: DataFrame, mentions: DataFrame) -> DataFrame:
    """url -> cluster_id of its primary (first-extracted) mention."""
    primary = mentions.where(F.col("mention_idx") == 0).select("url", "mention_id")
    return primary.join(clusters, on=["url", "mention_id"], how="inner").select(
        "url", "cluster_id"
    )


def pairwise_scores(labeled: DataFrame, url_clusters: DataFrame) -> dict:
    a = url_clusters.select(
        F.col("url").alias("a_url"), F.col("cluster_id").alias("a_cl")
    )
    b = url_clusters.select(
        F.col("url").alias("b_url"), F.col("cluster_id").alias("b_cl")
    )
    j = (
        labeled.join(a, on="a_url", how="left")
        .join(b, on="b_url", how="left")
        .withColumn(
            "pred",
            (
                F.col("a_cl").isNotNull()
                & F.col("b_cl").isNotNull()
                & (F.col("a_cl") == F.col("b_cl"))
            ).cast("int"),
        )
    )
    agg = j.agg(
        F.sum(F.expr("CAST(label = 1 AND pred = 1 AS INT)")).alias("tp"),
        F.sum(F.expr("CAST(label = 0 AND pred = 1 AS INT)")).alias("fp"),
        F.sum(F.expr("CAST(label = 1 AND pred = 0 AS INT)")).alias("fn"),
        F.sum(F.expr("CAST(label = 0 AND pred = 0 AS INT)")).alias("tn"),
    ).collect()[0]
    tp, fp, fn, tn = (int(agg[k] or 0) for k in ("tp", "fp", "fn", "tn"))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "tn": tn,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def _pairs2(c):
    """Exact n-choose-2 on longs, overflow-safe: halve the even factor
    BEFORE multiplying (shiftright = floor-div-2 on non-negatives), so
    the intermediate never exceeds the result. ``c*(c-1)`` first would
    wrap int64 at c ≈ 3.04e9; this form is exact up to the point the
    pair count itself leaves int64 (c ≈ 4.3e9)."""
    even = F.shiftright(c, 1) * (c - F.lit(1))
    odd = c * F.shiftright(c - F.lit(1), 1)
    return F.when(c % 2 == 0, even).otherwise(odd)


def blocking_recall(
    labeled: DataFrame, block_keys: DataFrame, mentions: DataFrame
) -> float:
    """Fraction of positive labeled pairs whose urls share >= 1 block
    key (via their primary mentions)."""
    primary = mentions.where(F.col("mention_idx") == 0).select("url", "mention_id")
    url_keys = (
        block_keys.join(primary, on=["url", "mention_id"], how="inner")
        .select("url", "strategy", "block_key")
        .distinct()
    )
    # distinct() on BOTH sides: covered is deduped below, so a
    # duplicate labeling row must not inflate the denominator either
    pos = labeled.where("label = 1").select("a_url", "b_url").distinct()
    a = url_keys.select(
        F.col("url").alias("a_url"), "strategy", "block_key"
    )
    b = url_keys.select(
        F.col("url").alias("b_url"), "strategy", "block_key"
    )
    covered = (
        pos.join(a, on="a_url")
        .join(b, on=["b_url", "strategy", "block_key"])
        .select("a_url", "b_url")
        .distinct()
    )
    n_pos = pos.count()
    return covered.count() / n_pos if n_pos else 1.0


def blocking_reduction_ratio(df: DataFrame, block_col: str) -> DataFrame:
    """Reduction ratio of a blocking scheme (the standard ER blocking
    metric complementing pairs-completeness/``blocking_recall``):
    ``1 - candidate_pairs / all_pairs`` where candidate pairs are
    within-block. Returns a 1-row DataFrame
    ``(n_rows, cand_pairs, all_pairs, reduction_ratio)``.

    Pair counts are exact long arithmetic with the halving applied
    BEFORE the multiply (even/odd split), so the intermediate never
    exceeds the pair count itself — n*(n-1) would wrap int64 at
    n ≈ 3.04e9 rows (one Common Crawl snapshot), the final count only
    at n ≈ 4.3e9, the representable limit. One groupBy + one global
    agg; nothing corpus-sized reaches the driver."""
    half = _pairs2
    per = df.groupBy(block_col).agg(F.count("*").alias("n"))
    tot = per.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.sum(half(F.col("n"))).cast("long").alias("cand_pairs"),
    )
    return tot.select(
        "n_rows",
        "cand_pairs",
        half(F.col("n_rows")).cast("long").alias("all_pairs"),
        (
            F.lit(1.0)
            - F.col("cand_pairs").cast("double")
            / half(F.col("n_rows")).cast("double")
        ).alias("reduction_ratio"),
    )


def clustering_agreement(
    a: DataFrame, b: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Pair-counting agreement between two clusterings of the same id
    set: Rand index and Adjusted Rand (Hubert & Arabie 1985), computed
    from contingency sums — never by materializing the O(n^2) pair
    set. Inputs are (id_col, cluster_id) frames; ids present in only
    one clustering are ignored (inner join).

    Scale: one equi-join on id, one groupBy on (cluster_a, cluster_b)
    — linear shuffle volume of small integer keys — then three
    one-row aggregates. Pair counts use exact integer arithmetic
    (shiftright, the er1 discipline); the two final divisions are
    single IEEE ops so the doubles are bit-stable across engines.
    Returns one row: (n_docs, n_pairs, s_both, s_a, s_b, ri, ari)."""
    ca = a.select(F.col(id_col).alias("_id"), F.col("cluster_id").alias("ca"))
    cb = b.select(F.col(id_col).alias("_id"), F.col("cluster_id").alias("cb"))
    cont = ca.join(cb, "_id").groupBy("ca", "cb").agg(F.count("*").alias("c"))

    pairs2 = _pairs2  # overflow-safe exact n-choose-2

    sab = cont.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(pairs2(F.col("c"))).cast("long").alias("s_both"),
    )
    sa = (
        cont.groupBy("ca")
        .agg(F.sum("c").alias("c"))
        .agg(F.sum(pairs2(F.col("c"))).cast("long").alias("s_a"))
    )
    sb = (
        cont.groupBy("cb")
        .agg(F.sum("c").alias("c"))
        .agg(F.sum(pairs2(F.col("c"))).cast("long").alias("s_b"))
    )
    one = sab.crossJoin(sa).crossJoin(sb)  # three 1-row frames
    n_pairs = _pairs2(F.col("n"))
    sboth_d = F.col("s_both").cast("double")
    sa_d = F.col("s_a").cast("double")
    sb_d = F.col("s_b").cast("double")
    np_d = n_pairs.cast("double")
    exp = sa_d * sb_d / np_d
    den = (sa_d + sb_d) / F.lit(2.0) - exp
    return one.select(
        F.col("n").alias("n_docs"),
        n_pairs.alias("n_pairs"),
        "s_both",
        "s_a",
        "s_b",
        (
            (n_pairs + F.lit(2) * F.col("s_both") - F.col("s_a") - F.col("s_b"))
            .cast("double")
            / np_d
        ).alias("ri"),
        F.when(den == 0.0, F.lit(None).cast("double"))
        .otherwise((sboth_d - exp) / den)
        .alias("ari"),
    )


def pr_curve(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    quantize: int | None = None,
) -> DataFrame:
    """Precision/recall/F1 at every distinct score threshold (the
    standard threshold-sweep PR curve over scored candidate pairs).

    Shape for scale: collapse to DISTINCT thresholds first — a
    partially-aggregated groupBy on the score key, linear in the pair
    count — then run the cumulative window over the *threshold table*,
    which is bounded by the number of distinct scores, never by the
    pair count. ``quantize`` rounds the score to
    that many decimals BEFORE the groupBy, so for continuous scores at
    web scale the threshold table is bounded by construction
    (<= 10^quantize + 1 rows); the single-task unpartitioned window
    runs over that bounded table only. ``quantize=None`` keeps exact
    thresholds for oracle comparison (er3b).

    Doubles are produced with the same operand order as the DuckDB
    oracle (er3b) so precision/recall/f1 hash-match bit-exactly.
    Returns (threshold, tp, fp, fn, prec, rec, f1), one row per
    distinct score, descending threshold = the classic sweep from
    strictest to loosest."""
    from pyspark.sql import Window

    score = F.col(score_col)
    if quantize is not None:
        score = F.round(score, quantize)
    t = scored.groupBy(score.alias("threshold")).agg(
        F.sum(F.col(label_col).cast("bigint")).alias("n_pos"),
        F.count("*").alias("n_all"),
    )
    w = Window.orderBy(F.col("threshold").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()  # whole (bounded) threshold table
    c = t.select(
        "threshold",
        F.sum("n_pos").over(w).alias("tp"),
        F.sum("n_all").over(w).alias("pred"),
        F.sum("n_pos").over(tot).alias("total_pos"),
    )
    tp_d = F.col("tp").cast("double")
    prec = tp_d / F.col("pred").cast("double")
    rec = tp_d / F.col("total_pos").cast("double")
    f1 = F.when(
        prec + rec > 0.0, F.lit(2.0) * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return c.select(
        "threshold",
        "tp",
        (F.col("pred") - F.col("tp")).alias("fp"),
        (F.col("total_pos") - F.col("tp")).alias("fn"),
        prec.alias("prec"),
        rec.alias("rec"),
        f1.alias("f1"),
    )


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Heavy-hitter / skew diagnostics for a join or groupBy key: the
    top_k most frequent keys with their share of all rows and skew
    factor (count / mean count). This is the measurement that decides
    when a key needs salting (el.blocking.salted) or a hot-bucket cap
    (el.dedup.cap_bucket_members) — skew handled *explicitly* starts
    with skew measured explicitly.

    Two aggregates over the distinct-key table (bounded by key
    cardinality, not rows) and a total-order top-k; the one-row
    global stats frame joins by broadcast. Doubles mirror the DuckDB
    oracle operand-for-operand (diag1)."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_k)
        .crossJoin(F.broadcast(stats))
    )
    cnt_d = F.col("cnt").cast("double")
    mean = F.col("total").cast("double") / F.col("n_keys").cast("double")
    return top.select(
        "key",
        "cnt",
        "total",
        "n_keys",
        (cnt_d / F.col("total").cast("double")).alias("share"),
        (cnt_d / mean).alias("skew"),
    )


def clustering_bcubed(
    a: DataFrame, b: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) between a
    predicted clustering ``a`` and a reference clustering ``b`` — the
    standard per-item ER cluster metric alongside pairwise F1: an
    item's precision is |its pred cluster ∩ its true cluster| / |its
    pred cluster|, recall the same over the true cluster, both
    averaged over items.

    Computed from the contingency table only, never per-item rows:
    all items in cell (ca, cb) share identical values, so the mean is
    Σ_cells c·(c/|ca|) / n. Each cell value is ONE IEEE division
    (bit-stable); the cross-cell sum uses the decimal-sum discipline
    (cast to DECIMAL(28,12), exact order-independent addition) so the
    DuckDB oracle (er5) hash-matches. One row:
    (n_docs, bcubed_p, bcubed_r, bcubed_f1)."""
    ca = a.select(F.col(id_col).alias("_id"), F.col("cluster_id").alias("ca"))
    cb = b.select(F.col(id_col).alias("_id"), F.col("cluster_id").alias("cb"))
    cont = ca.join(cb, "_id").groupBy("ca", "cb").agg(
        F.count("*").cast("long").alias("c")
    )
    sa = cont.groupBy("ca").agg(F.sum("c").cast("long").alias("na"))
    sb = cont.groupBy("cb").agg(F.sum("c").cast("long").alias("nb"))
    cells = cont.join(sa, "ca").join(sb, "cb")
    cc = (F.col("c") * F.col("c")).cast("double")
    p_cell = cc / F.col("na").cast("double")
    r_cell = cc / F.col("nb").cast("double")
    agg = cells.agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(p_cell.cast("decimal(28,12)")).cast("double").alias("sp"),
        F.sum(r_cell.cast("decimal(28,12)")).cast("double").alias("sr"),
    )
    n_d = F.col("n_docs").cast("double")
    p = F.col("sp") / n_d
    r = F.col("sr") / n_d
    f1 = F.when(p + r > 0.0, F.lit(2.0) * p * r / (p + r)).otherwise(
        F.lit(0.0)
    )
    return agg.select(
        "n_docs",
        p.alias("bcubed_p"),
        r.alias("bcubed_r"),
        f1.alias("bcubed_f1"),
    )


def linking_eval(
    pred: DataFrame,
    gold: DataFrame,
    id_col: str = "mention_id",
    pred_entity_col: str = "entity",
    gold_entity_col: str = "entity",
) -> DataFrame:
    """TAC-KBP-style NIL-aware entity-linking evaluation (McNamee &
    Dang 2009) — the metric that completes el1-el3: per-mention
    accuracy over the gold set where NIL is a first-class answer,
    plus in-KB and NIL precision/recall (and in-KB F1).

    ``pred`` is resolve_links-shaped (one row per mention,
    ``pred_entity_col`` NULL iff NIL); ``gold`` is one row per query
    mention with ``gold_entity_col`` NULL meaning the mention is NIL.
    LEFT join from gold: a mention absent from ``pred`` counts as a
    NIL prediction (TAC-KBP scores every query; silence is NIL, never
    an excuse). ``pred`` must be unique per mention id (resolve_links
    guarantees this; duplicates would double-count).

    One row out: ``(n_mentions, n_gold_kb, n_pred_kb, n_correct_kb,
    n_correct_nil, accuracy, kb_p, kb_r, kb_f1, nil_p, nil_r)``.
    Every ratio is ONE IEEE division of two exact integer sums (and
    kb_f1 one fixed-order 2pr/(p+r) on those quotients), so the
    DuckDB oracle hash-matches bit-exactly — the er2/er5 discipline.
    Scale shape: one mention-keyed equi-join + one global aggregate of
    integer flags (partial-agg friendly); never wider than the input."""
    g = gold.select(
        F.col(id_col).alias("_id"), F.col(gold_entity_col).alias("_g")
    )
    p = pred.select(
        F.col(id_col).alias("_id"), F.col(pred_entity_col).alias("_p")
    )
    j = g.join(p, on="_id", how="left")

    def _n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    agg = j.agg(
        F.count("*").cast("long").alias("n_mentions"),
        _n(F.col("_g").isNotNull()).alias("n_gold_kb"),
        _n(F.col("_p").isNotNull()).alias("n_pred_kb"),
        _n(
            F.col("_p").isNotNull()
            & F.col("_g").isNotNull()
            & (F.col("_p") == F.col("_g"))
        ).alias("n_correct_kb"),
        _n(F.col("_p").isNull() & F.col("_g").isNull()).alias(
            "n_correct_nil"
        ),
    )

    def _ratio(num, den):
        return F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(0.0))

    n = F.col("n_mentions")
    ckb, cnil = F.col("n_correct_kb"), F.col("n_correct_nil")
    kb_p = _ratio(ckb, F.col("n_pred_kb"))
    kb_r = _ratio(ckb, F.col("n_gold_kb"))
    kb_f1 = F.when(
        kb_p + kb_r > 0.0, F.lit(2.0) * kb_p * kb_r / (kb_p + kb_r)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_mentions",
        "n_gold_kb",
        "n_pred_kb",
        "n_correct_kb",
        "n_correct_nil",
        _ratio(ckb + cnil, n).alias("accuracy"),
        kb_p.alias("kb_p"),
        kb_r.alias("kb_r"),
        kb_f1.alias("kb_f1"),
        _ratio(cnil, n - F.col("n_pred_kb")).alias("nil_p"),
        _ratio(cnil, n - F.col("n_gold_kb")).alias("nil_r"),
    )
