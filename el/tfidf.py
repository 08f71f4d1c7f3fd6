"""Hashed TF-IDF context vectors (fit-once, persist, reuse).

Determinism across cluster sizes (SURVEY.md §4.4): the IDF table is a
*model artifact* fitted once and persisted; every run loads it, so
topic/context vectors never drift with partitioning. The artifact is
tiny (one float per occupied hash bucket, <= 2^18) and is shipped to
executors as a closure-captured numpy array — scalable to any input
size because its size is bounded by the hash dimension, not the corpus.

Document frequencies are aggregated BY HASH BUCKET cluster-side
(explode distinct tokens -> vectorized bucket UDF -> groupBy bucket):
the driver collects at most 2^18 (bucket, df) rows no matter how
large the corpus vocabulary is — a 10^9-distinct-token crawl fits the
same driver budget as the test fixture.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.catalog import artifact_meta, commit_artifact
from el.hashing import fnv1a_tokens

DIM = 1 << 18
_TOKEN_RE = re.compile(r"[a-z0-9]+")

VEC_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.ArrayType(T.IntegerType()), False),
        T.StructField("val", T.ArrayType(T.FloatType()), False),
    ]
)


def _bucket(tokens: list[str]) -> np.ndarray:
    # FNV-1a 32-bit, stable across processes (no PYTHONHASHSEED
    # issues); vectorized batch kernel (el.hashing.fnv1a_tokens)
    return (fnv1a_tokens(tokens, bits=32) % np.uint64(DIM)).astype(np.int64)


class TfidfModel:
    def __init__(self, idf: np.ndarray, n_docs: int):
        assert idf.shape == (DIM,)
        self.idf = idf.astype(np.float32)
        self.n_docs = n_docs

    # -- fitting ------------------------------------------------------
    @staticmethod
    def _bucket_df_counts(texts: DataFrame, col: str) -> DataFrame:
        """Document frequency per HASH BUCKET, aggregated cluster-side.

        The driver never sees the vocabulary: tokens are mapped to
        their 2^18 bucket inside an Arrow-batched pandas UDF (the
        same ``_bucket`` kernel the transform path uses, so fit and
        transform agree bit-for-bit), then counted with a plain
        groupBy — map-side partial aggregation bounds the shuffle AND
        the result at <= DIM rows regardless of corpus size. Each doc
        contributes each distinct token once (array_distinct), so
        sum-over-bucket == sum of per-token document frequencies.
        """

        @F.pandas_udf(T.IntegerType())
        def bucket_udf(toks: pd.Series) -> pd.Series:
            return pd.Series(_bucket(toks.tolist()).astype(np.int32))

        toks = texts.select(
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col(col)), r"[^a-z0-9]+"),
                        lambda t: F.length(t) > 0,
                    )
                )
            ).alias("tok")
        )
        return toks.select(bucket_udf(F.col("tok")).alias("bucket")).groupBy(
            "bucket"
        ).agg(F.count("*").alias("df"))

    @classmethod
    def fit(
        cls,
        texts: DataFrame,
        col: str = "context",
        max_fit_docs: int | None = None,
    ) -> "TfidfModel":
        """df-count per hashed token bucket over distinct tokens/doc.

        Scale posture: the only driver-side materialization is the
        bucket table (<= 2^18 rows — bounded by the hash dimension,
        not the vocabulary). ``max_fit_docs`` additionally caps the
        fit input with a deterministic hash-sample (pure function of
        the text, so the sample — and the model — is identical at any
        parallelism); IDF is a corpus *statistic*, stable under
        uniform sampling."""
        if max_fit_docs is not None and max_fit_docs > 0:
            n_total = texts.count()
            if n_total > max_fit_docs:
                m = -(-n_total // max_fit_docs)  # ceil
                texts = texts.where(
                    F.pmod(F.xxhash64(F.col(col)), F.lit(m)) == 0
                )
        rows = cls._bucket_df_counts(texts, col).collect()
        n_docs = texts.count()
        idf = np.zeros(DIM, dtype=np.float64)
        for r in rows:
            idf[r["bucket"]] = float(r["df"])
        nz = idf > 0
        idf[nz] = np.log((n_docs + 1.0) / (idf[nz] + 1.0)) + 1.0
        return cls(idf.astype(np.float32), n_docs)

    # -- persistence --------------------------------------------------
    def save(self, path: str) -> None:
        """idf.npy, then the artifact commit (``commit_artifact``)."""
        commit_artifact(
            path,
            lambda: np.save(os.path.join(path, "idf.npy"), self.idf),
            {"n_docs": self.n_docs, "dim": DIM, "version": 1},
        )

    @classmethod
    def load(cls, path: str) -> "TfidfModel":
        idf = np.load(os.path.join(path, "idf.npy"))
        return cls(idf, artifact_meta(path)["n_docs"])

    # -- transform ----------------------------------------------------
    def vectorize_batch(self, texts: pd.Series) -> pd.DataFrame:
        """One Arrow batch of texts -> unit-normalized sparse vectors
        (sorted idx arrays, so cosine is a sparse dot downstream)."""
        idf = self.idf
        idx_out, val_out = [], []
        for text in texts.tolist():
            toks = _TOKEN_RE.findall(text.lower()) if text else []
            if not toks:
                idx_out.append(np.zeros(0, np.int32))
                val_out.append(np.zeros(0, np.float32))
                continue
            b = _bucket(toks)
            uniq, counts = np.unique(b, return_counts=True)
            w = counts.astype(np.float32) * idf[uniq]
            norm = float(np.linalg.norm(w))
            if norm > 0:
                w = w / norm
            idx_out.append(uniq.astype(np.int32))
            val_out.append(w.astype(np.float32))
        return pd.DataFrame({"idx": idx_out, "val": val_out})

    def transform(self, df: DataFrame, col: str = "context", out: str = "tfidf"):
        model = self  # closure capture; idf array is ~1 MB

        @F.pandas_udf(VEC_SCHEMA)
        def vec_udf(texts: pd.Series) -> pd.DataFrame:
            return model.vectorize_batch(texts)

        return df.withColumn(out, vec_udf(F.col(col)))
