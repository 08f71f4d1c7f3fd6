"""LDA topic-id buckets for disambiguation blocking (SURVEY.md V6).

Implements the north-star's "LDA topic-id buckets mirroring the
reference's topic-model disambiguation" (BASELINE.json north_star):
a pyspark.ml pipeline RegexTokenizer -> CountVectorizer -> LDA fitted
over mention contexts; every mention gets a topic distribution
(``topic_vec``, plain array<double> at the table boundary — VectorUDT
never leaks past this module, SURVEY.md §1.2) and a block key
``tp:<argmax topic>``. Same-name entities that live in different
topics land in different buckets, and the ``cos_topic`` scoring
feature separates them even when they collide in a name block.

Determinism across cluster sizes (SURVEY.md §4.4): refitting is now
itself deterministic — the fit pins a content-hash input layout
(fixed partition count + per-partition sort, so the online LDA
optimizer's per-partition subsampling sees the same stream anywhere)
and installs a totally-ordered vocabulary (df desc, term asc; the
stock CountVectorizer breaks count ties in aggregation order, which
permuted the feature space between sessions). Measured: identical
topic buckets across fresh sessions at local[8] and local[32].
Persisted fit-once artifacts remain the production path (cheaper
than refitting; model is an input, not per-run state).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from el.catalog import commit_artifact
from el.schemas import BLOCK_KEYS


def _tokenizer():
    from pyspark.ml.feature import RegexTokenizer

    return RegexTokenizer(
        inputCol="__text", outputCol="__toks", pattern="[^a-z0-9]+", toLowercase=True
    )


@dataclass
class TopicModel:
    tokenizer: object
    cv_model: object
    lda_model: object
    k: int

    @classmethod
    def fit(
        cls,
        spark: SparkSession,
        df: DataFrame,
        text_col: str,
        k: int = 10,
        vocab_size: int = 4096,
        min_df: int = 2,
        max_iter: int = 30,
        seed: int = 13,
        max_fit_docs: int | None = None,
    ) -> "TopicModel":
        from pyspark.ml.clustering import LDA

        tok = _tokenizer()
        docs = (
            df.select(F.col(text_col).alias("__text"))
            .where(F.col("__text").isNotNull())
            .distinct()
        )
        # fit-once artifact on a bounded, deterministic hash-sample:
        # topic structure is a corpus statistic, so a uniform sample
        # suffices, and a pure-function-of-text sample keeps the
        # artifact identical at any parallelism (§4.4). Without this
        # the fit tokenizes the full corpus at 100x scale.
        if max_fit_docs is not None and max_fit_docs > 0:
            n_total = docs.count()
            if n_total > max_fit_docs:
                m = -(-n_total // max_fit_docs)  # ceil
                docs = docs.where(
                    F.pmod(F.xxhash64(F.col("__text")), F.lit(m)) == 0
                )
        # Pin the fit input's physical layout: a FIXED partition count
        # hash-partitioned by content, with a per-partition sort. The
        # online LDA optimizer subsamples per partition and the
        # CountVectorizer's vocab cutoff breaks frequency ties by
        # aggregation order, so an AQE/session-dependent layout makes
        # refits drift (measured: same data + seed, different topic
        # buckets per session). With the layout a pure function of the
        # corpus content, refitting is reproducible across sessions
        # AND parallelism levels (§4.4); persisted artifacts remain
        # the production path.
        docs = docs.repartition(64, F.xxhash64("__text")).sortWithinPartitions(
            "__text"
        )
        toked = tok.transform(docs)
        # Deterministic vocabulary: CountVectorizer.fit breaks count
        # TIES in arbitrary (aggregation-order-dependent) order, so
        # the same corpus could yield a permuted vocab per session —
        # permuting LDA's feature space and drifting topic buckets
        # (measured: identical vocab SET, different order). Build the
        # vocab with a TOTAL order (df desc, term asc) and install it
        # via from_vocabulary — bit-stable across sessions and
        # parallelism. The collect is bounded by vocab_size.
        from pyspark.ml.feature import CountVectorizerModel

        df_counts = (
            toked.select(F.explode(F.array_distinct("__toks")).alias("t"))
            .groupBy("t")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") >= min_df)
            .orderBy(F.col("df").desc(), F.col("t"))
            .limit(vocab_size)
        )
        vocab = [r["t"] for r in df_counts.collect()]
        cv = CountVectorizerModel.from_vocabulary(
            vocab, inputCol="__toks", outputCol="__tf"
        )
        tf = cv.transform(toked)
        lda = LDA(
            k=k,
            maxIter=max_iter,
            seed=seed,
            featuresCol="__tf",
            topicDistributionCol="__topics",
            optimizer="online",
        ).fit(tf)
        return cls(tok, cv, lda, k)

    def transform(self, df: DataFrame, text_col: str, out_col: str) -> DataFrame:
        """df -> + ``out_col``: array<double> topic distribution."""
        from pyspark.ml.functions import vector_to_array

        cols = df.columns
        staged = df.withColumn("__text", F.coalesce(F.col(text_col), F.lit("")))
        staged = self.tokenizer.transform(staged)
        staged = self.cv_model.transform(staged)
        staged = self.lda_model.transform(staged)
        return staged.select(
            *cols, vector_to_array(F.col("__topics")).alias(out_col)
        )

    def bucket_keys(
        self, df_with_vec: DataFrame, vec_col: str = "topic_vec"
    ) -> DataFrame:
        """mentions+topic_vec -> BLOCK_KEYS rows with strategy 'topic'.

        Bucket = argmax of the topic distribution, computed JVM-side
        (array_position/array_max stay in whole-stage codegen). Topic
        buckets are intentionally coarse — the per-block cap
        (el.blocking.cap_blocks) bounds their pair fan-out."""
        vec = F.col(vec_col)
        bucket = (F.array_position(vec, F.array_max(vec)) - 1).cast("int")
        return df_with_vec.select(
            "mention_id",
            "url",
            F.lit("topic").alias("strategy"),
            F.concat(F.lit("tp:"), bucket.cast("string")).alias("block_key"),
            F.lit(0).alias("salt"),
        ).select([f.name for f in BLOCK_KEYS.fields])

    # -- persistence (fit-once artifact; SURVEY.md §4.4) ------------------

    def save(self, path: str) -> None:
        """cv and lda, then the artifact commit (``commit_artifact``)."""

        def payload():
            self.cv_model.write().overwrite().save(f"{path}/cv")
            self.lda_model.write().overwrite().save(f"{path}/lda")

        commit_artifact(path, payload, {"k": self.k, "version": 1})

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "TopicModel":
        from pyspark.ml.clustering import LocalLDAModel
        from pyspark.ml.feature import CountVectorizerModel

        tok = _tokenizer()
        cv = CountVectorizerModel.load(f"{path}/cv")
        lda = LocalLDAModel.load(f"{path}/lda")
        return cls(tok, cv, lda, lda.getK())
