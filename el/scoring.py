"""Pairwise scoring: fused Arrow pass computing Jaro-Winkler and
TF-IDF/topic cosines + logistic score; Levenshtein similarity stays
JVM-side (builtin F.levenshtein, whole-stage codegen) — the UDF only
carries work Spark has no builtin for (SURVEY.md V4/F4/F5/F8).

Decision rule (threshold/logistic scorer, BASELINE.json north_star):
``is_match`` is a CONJUNCTION of thresholds — name_sim >= t_name AND
ctx_sim >= t_ctx. Name-collision entities (jw == 1.0 but different
topic context) fail the context leg; same-topic different-name pairs
(candidates via the LDA bucket strategy) fail the name leg. A single
linear-logistic boundary cannot express this AND robustly because
collision negatives have *higher* name similarity than many true
positives. The logistic ``score`` is still emitted (ranking /
calibration); its weights and both thresholds are frozen constants
calibrated once on the seeded fixture (never refit per run — §4.4
cross-run determinism).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.simfn import cosine_dense, cosine_sparse, jaro_winkler


@dataclass(frozen=True)
class ScoringConfig:
    # logistic score (reported, used for ranking)
    w_name: float = 14.0
    w_ctx: float = 16.0
    # conjunction decision thresholds (is_match); calibrated on the
    # seeded fixture: positives name_sim>=0.82/cos_tfidf>=0.25,
    # collision negatives cos_tfidf<=0.04, topic-block negatives
    # name_sim<=0.7 — both thresholds sit mid-gap
    t_name: float = 0.80
    t_ctx: float = 0.12
    topic_blend: float = 0.3  # ctx = (1-b)*cos_tfidf + b*cos_topic (if topics)
    jw_weight: float = 0.6  # name_sim = jw_weight*jw + (1-jw_weight)*lev_sim
    # feature-attach join strategy. True (default): force-broadcast
    # the mention-feature side — measured 4.5x at sandbox scale, and
    # correct whenever per-executor memory holds the feature table
    # (blocking caps guarantee |pairs| >> |mentions|). At corpus
    # scales where the feature table exceeds executor memory
    # (~10^9+ mentions), set False to fall back to a shuffled join
    # that AQE sizes — same results (asserted in tests), different
    # physical plan. Size-driven: pick per deployment, not per row.
    broadcast_features: bool = True


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("jw", T.DoubleType(), False),
        T.StructField("cos_tfidf", T.DoubleType(), False),
        T.StructField("cos_topic", T.DoubleType(), False),
    ]
)


# The fused feature UDF. Only hot rows (lev_sim >= the jw gate,
# score_pairs) reach it, so every row gets the JW kernel.
@F.pandas_udf(_FEATURES_SCHEMA)
def feats(
    a_norm: pd.Series,
    b_norm: pd.Series,
    a_idx: pd.Series,
    a_val: pd.Series,
    b_idx: pd.Series,
    b_val: pd.Series,
    a_topic: pd.Series,
    b_topic: pd.Series,
) -> pd.DataFrame:
    jw = jaro_winkler(a_norm.fillna("").tolist(), b_norm.fillna("").tolist())
    cos_t = cosine_sparse(
        a_idx.tolist(), a_val.tolist(), b_idx.tolist(), b_val.tolist()
    )
    cos_k = cosine_dense(a_topic.tolist(), b_topic.tolist())
    return pd.DataFrame({"jw": jw, "cos_tfidf": cos_t, "cos_topic": cos_k})


def _attach_side(
    pairs: DataFrame,
    mentions: DataFrame,
    side: str,
    cols: dict[str, str],
    broadcast: bool = True,
) -> DataFrame:
    """Attach one side's feature columns (``cols``: mention col ->
    output col) to the pair table.

    ``broadcast=True`` (default): the mention-feature table is tiny
    relative to the pair set (blocking caps guarantee |pairs| >>
    |mentions|), so broadcasting it turns two full shuffles of ~1 KB
    feature payload per pair into a map-side hash join — the pair rows
    never move (measured at 2.9M pairs: 41s -> 9s). At scales where
    mention features exceed executor memory pass False to fall back to
    a shuffled join, which AQE sizes."""
    sel = mentions.select(
        F.col("mention_id").alias(f"{side}_id"),
        *[F.col(src).alias(dst) for src, dst in cols.items()],
    )
    if broadcast:
        sel = F.broadcast(sel)
    return pairs.join(sel, on=f"{side}_id", how="inner")


def score_pairs(
    pairs: DataFrame,
    mentions: DataFrame,
    cfg: ScoringConfig = ScoringConfig(),
) -> DataFrame:
    """candidate_pairs x mentions -> scored_pairs.

    mentions must carry ``tfidf`` (el.tfidf.TfidfModel.transform) and
    ``topic_vec`` (el.topics; may be NULL -> cos_topic = 0 and the
    context signal is pure TF-IDF).

    Column contract: ``is_match`` is exact for every row. ``score``
    (the logistic value) is fully calibrated only for HOT rows
    (lev_sim >= the jw gate); cold rows — which cannot match by
    construction — report jw/cos features as 0.0, so their score is a
    monotone function of lev_sim alone and is suitable for filtering
    but not for fine-grained ranking among cold pairs. Consumers that
    need calibrated scores across ALL pairs should re-score the cold
    subset explicitly (the vectors are in ``mentions``); the pipeline
    itself only ever ranks within the hot subset."""
    if "topic_vec" not in mentions.columns:
        mentions = mentions.withColumn(
            "topic_vec", F.lit(None).cast(T.ArrayType(T.DoubleType()))
        )
    # stage 1: attach ONLY the normalized names (light payload) and
    # compute lev_sim JVM-side for every pair
    bc = cfg.broadcast_features
    df = _attach_side(pairs, mentions, "a", {"norm_name": "a_norm"}, broadcast=bc)
    df = _attach_side(df, mentions, "b", {"norm_name": "b_norm"}, broadcast=bc)

    lev_sim = (
        F.lit(1.0)
        - F.levenshtein("a_norm", "b_norm")
        / F.greatest(F.length("a_norm"), F.length("b_norm"), F.lit(1))
    )
    df = df.withColumn("lev_sim", lev_sim)

    # Hot/cold plan split. is_match needs name_sim = w*jw + (1-w)*lev
    # >= t_name; with jw <= 1, rows below the lev gate CANNOT match no
    # matter what the UDF would compute — so only hot rows get the
    # vector columns attached and enter the Arrow boundary at all.
    # Cold rows (typically the large majority of LSH/topic-block
    # candidates) stay entirely JVM-side: no vector payload, no
    # Python; their jw/cos features are reported as 0 and their
    # logistic score uses the lev/zero features (their is_match is
    # False by construction either way).
    jw_gate = (cfg.t_name - cfg.jw_weight) / (1.0 - cfg.jw_weight)
    hot = df.where(F.col("lev_sim") >= jw_gate)
    cold = df.where(F.col("lev_sim") < jw_gate)

    # stage 2 (hot only): attach vectors + fused feature UDF
    vec_cols_a = {"tfidf": "a_tfidf", "topic_vec": "a_topic"}
    vec_cols_b = {"tfidf": "b_tfidf", "topic_vec": "b_topic"}
    hot = _attach_side(hot, mentions, "a", vec_cols_a, broadcast=bc)
    hot = _attach_side(hot, mentions, "b", vec_cols_b, broadcast=bc)

    hot = hot.withColumn(
        "f",
        feats(
            "a_norm",
            "b_norm",
            F.col("a_tfidf.idx"),
            F.col("a_tfidf.val"),
            F.col("b_tfidf.idx"),
            F.col("b_tfidf.val"),
            "a_topic",
            "b_topic",
        ),
    )
    null_vec = F.lit(None).cast(T.ArrayType(T.DoubleType()))
    cold = (
        cold.withColumn(
            "f",
            F.struct(
                F.lit(0.0).alias("jw"),
                F.lit(0.0).alias("cos_tfidf"),
                F.lit(0.0).alias("cos_topic"),
            ),
        )
        .withColumn("a_topic", null_vec)
        .withColumn("b_topic", null_vec)
    )

    def finish(part: DataFrame) -> DataFrame:
        has_topic = F.col("a_topic").isNotNull() & F.col("b_topic").isNotNull()
        ctx = F.when(
            has_topic,
            (1 - cfg.topic_blend) * F.col("f.cos_tfidf")
            + cfg.topic_blend * F.col("f.cos_topic"),
        ).otherwise(F.col("f.cos_tfidf"))
        name_sim = cfg.jw_weight * F.col("f.jw") + (1 - cfg.jw_weight) * F.col(
            "lev_sim"
        )
        z = cfg.w_name * (name_sim - cfg.t_name) + cfg.w_ctx * (ctx - cfg.t_ctx)
        score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        is_match = (name_sim >= cfg.t_name) & (ctx >= cfg.t_ctx)
        return part.select(
            "a_id",
            "b_id",
            "a_url",
            "b_url",
            "block_key",
            "strategy",
            F.col("f.jw").alias("jw"),
            "lev_sim",
            F.col("f.cos_tfidf").alias("cos_tfidf"),
            F.col("f.cos_topic").alias("cos_topic"),
            score.alias("score"),
            is_match.alias("is_match"),
        )

    return finish(hot).unionByName(finish(cold))


def matched_edges(scored: DataFrame) -> DataFrame:
    return scored.where("is_match").select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
