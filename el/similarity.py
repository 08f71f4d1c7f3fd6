"""Similarity search over embedding columns (task brief: ANN as a
first-class op): brute-force cosine top-k as the exactness baseline,
and a random-hyperplane-LSH bucketed variant as the scale path.

Scale notes:
- brute-force is query-set x corpus: the query side is broadcast
  (small), the corpus scan is a single pass, the per-partition top-k
  is cut by a window over (q_id) — at 1000 executors this is one
  broadcast + one narrow scan + one shuffle of k rows per query.
- the LSH variant hashes both sides into 2^n_planes sign buckets with
  a single vectorized numpy matmul per Arrow batch (one Python pass),
  then searches only within-bucket (+ optional multi-probe): corpus
  pass is linear and the join is an equi-join on the bucket id.
- hyperplanes are a pure function of (dim, n_planes, seed) — no RNG
  state, identical on every executor and every run.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from el.catalog import artifact_meta, commit_artifact, load_or_fit
from el.dedup import cosine_expr
from el.hashing import splitmix64


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors per query (q_id, n_id, rank),
    self-matches excluded; ties broken by neighbor id (total order)."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id", "n_id", cosine_expr(F.col("q_vec"), F.col("n_vec")).alias("cos")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 11) -> np.ndarray:
    """Deterministic pseudo-Gaussian hyperplanes (n_planes x dim) from
    splitmix64 streams (sum of 4 uniforms, CLT-shaped; no RNG state)."""
    idx = np.arange(n_planes * dim * 4, dtype=np.uint64) + np.uint64(
        (seed * 0x9E3779B9) & 0xFFFFFFFFFFFFFFFF
    )
    u = splitmix64(idx).astype(np.float64) / 2**64  # [0,1)
    g = u.reshape(n_planes, dim, 4).sum(axis=2) - 2.0
    return g


def suggest_n_planes(
    n_docs: int,
    max_bucket: int = 1000,
    target_frac: float = 0.5,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Smallest ``n_planes`` whose EXPECTED per-table bucket load
    (n_docs / 2^n_planes, uniform sign codes) is <= target_frac *
    max_bucket — the cap-recall policy (BASELINE.md r5) codified:
    the hot-bucket cap is a quadratic-blowup guardrail, not a
    substitute for sizing single-code-per-table embedding LSH to the
    corpus. Under-bucketed (mean load > cap) the cap does the
    bucketing's job and recall pays: measured at 96k docs / cap 1000,
    6 planes (mean 1500) -> recall 0.849, while this function's answer
    (8 planes, mean 375) -> recall 0.981 at a 2.8x-cheaper wall than
    uncapped. target_frac=0.5 leaves headroom for real-corpus skew
    (the 96k hottest bucket ran ~8x the mean).

    Each extra plane lowers per-table collision prob p^n_planes, so
    when the suggestion grows past the default 8, compensate with
    more ``n_tables`` or ``probe_bits=1`` (recall formula in
    :func:`lsh_buckets`). Clamped to [min_planes, max_planes]; at
    2^24 buckets per table the expected load of even 10^12 docs is
    ~60k rows — re-split from there with more tables, not more planes,
    or bucket self-joins lose all parallelism."""
    if n_docs < 1:
        raise ValueError("n_docs must be >= 1")
    target = max(1.0, target_frac * max_bucket)
    planes = int(np.ceil(np.log2(max(1.0, n_docs / target))))
    return max(min_planes, min(max_planes, planes))


def _bucket_udf(
    planes: np.ndarray,
    n_tables: int,
    vec_col: str,
    id_col: str,
    probe_bits: int = 0,
):
    n_planes = planes.shape[0] // n_tables

    def gen(batches):
        for pdf in batches:
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(vecs) == 0:
                yield pd.DataFrame({id_col: [], "bucket": []})
                continue
            signs = (vecs @ planes.T) > 0  # (n, n_tables*n_planes), one matmul
            signs = signs.reshape(len(vecs), n_tables, n_planes)
            weights = (1 << np.arange(n_planes, dtype=np.int64))[None, None, :]
            codes = (signs * weights).sum(axis=2)  # (n, n_tables)
            if probe_bits:
                # multi-probe: also emit every code with ONE sign bit
                # flipped -> a plain-bucket counterpart within Hamming
                # distance 1 in any table becomes a candidate
                flips = np.concatenate(
                    (
                        np.zeros(1, dtype=np.int64),
                        1 << np.arange(n_planes, dtype=np.int64),
                    )
                )
                codes = codes[:, :, None] ^ flips[None, None, :]
                codes = codes.reshape(len(vecs), n_tables * (n_planes + 1))
                table_idx = np.repeat(
                    np.arange(n_tables, dtype=np.int64), n_planes + 1
                )
            else:
                table_idx = np.arange(n_tables, dtype=np.int64)
            # disjoint bucket id space per table: table*2^planes + code
            codes = codes + (table_idx << n_planes)[None, :]
            ids = np.repeat(pdf[id_col].to_numpy(), len(table_idx))
            yield pd.DataFrame({id_col: ids, "bucket": codes.reshape(-1)})

    return gen


def lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    probe_bits: int = 0,
) -> DataFrame:
    """(id, bucket) rows — ``n_tables`` rows per id, one sign-pattern
    bucket per hash table (OR-of-ANDs construction: collide in ANY
    table => candidate; recall 1-(1-p^n_planes)^n_tables).

    probe_bits=1 (multi-probe, Lv et al. VLDB 2007 adapted to sign
    LSH): additionally emit each table's code with every single bit
    flipped (n_planes extra rows per table). Joining a probed side
    against a PLAIN side makes any pair within Hamming distance 1 of a
    table's code a candidate: per-table collision prob rises from p^n
    to p^n + n*p^(n-1)*(1-p), so the same recall needs ~2-3x fewer
    tables — fewer shuffle rows on the plain (corpus) side, which is
    the side that matters at scale."""
    from el.io import scatter_small

    planes = hyperplanes(dim, n_planes * n_tables, seed)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("bucket", T.LongType(), False),
        ]
    )
    return scatter_small(df.select(id_col, vec_col)).mapInPandas(
        _bucket_udf(planes, n_tables, vec_col, id_col, probe_bits),
        schema=schema,
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 11,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to ids sharing ANY
    hash-table bucket with the query (equi-join on bucket id, distinct
    across tables), exact cosine re-rank within. Recall vs
    brute_force_topk is measured in tests, not assumed. probe_bits=1
    multi-probes the QUERY side only (queries are few; the corpus-side
    bucket table — the one that scales — stays n_tables rows/vector)."""
    cb = lsh_buckets(corpus, n_planes, n_tables, seed, vec_col, id_col, dim)
    qb = lsh_buckets(
        queries, n_planes, n_tables, seed, vec_col, id_col, dim,
        probe_bits=probe_bits,
    )
    cand = (
        cb.select(F.col(id_col).alias("n_id"), "bucket")
        .join(qb.select(F.col(id_col).alias("q_id"), "bucket"), on="bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        cand.join(c, on="n_id")
        .join(F.broadcast(q), on="q_id")
        .select(
            "q_id", "n_id", cosine_expr(F.col("q_vec"), F.col("n_vec")).alias("cos")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )


# -- IVF (inverted-file) ANN ---------------------------------------------


def _norm_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-12)


def _assign_centroids(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
    id_col: str,
    nprobe: int = 1,
) -> DataFrame:
    """(id, centroid_id) rows — each vector's ``nprobe`` nearest
    centroids by cosine. One numpy matmul per Arrow batch against the
    broadcast (closure-captured) centroid matrix; ties broken by
    centroid id (argsort is stable over the id-ordered matrix)."""
    from el.io import scatter_small

    cn = _norm_rows(centroids.astype(np.float64))

    def gen(batches):
        for pdf in batches:
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(vecs) == 0:
                yield pd.DataFrame({id_col: [], "centroid_id": []})
                continue
            sims = _norm_rows(vecs) @ cn.T  # (n, C)
            if nprobe == 1:
                top = np.argmax(sims, axis=1)[:, None]
            else:
                # descending sim, stable -> deterministic tie order
                top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            ids = np.repeat(pdf[id_col].to_numpy(), top.shape[1])
            yield pd.DataFrame(
                {id_col: ids, "centroid_id": top.reshape(-1).astype(np.int64)}
            )

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("centroid_id", T.LongType(), False),
        ]
    )
    return scatter_small(df.select(id_col, vec_col)).mapInPandas(
        gen, schema=schema
    )


def ivf_fit(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means-style centroids fit
    with Lloyd iterations expressed as DataFrame ops.

    Determinism across runs/partitionings (§4.4 discipline): seeds are
    the ``n_centroids`` vectors with the smallest xxhash64(id) (a pure
    function of the data, not of partition order), and the per-element
    centroid means are EXACT decimal sums cast back to double — float
    reduction order can never drift an assignment between cluster
    sizes. The centroid matrix is tiny (C x dim) and collected like
    any other model artifact; everything corpus-sized stays
    distributed (assignment is one matmul per Arrow batch, the update
    is a partial-aggregated groupBy)."""
    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    seed_rows = (
        base.withColumn("_h", F.xxhash64("_id"))
        .orderBy("_h", "_id")
        .limit(n_centroids)
        .select("_v")
        .collect()
    )
    cents = np.array([np.asarray(r._v, dtype=np.float64) for r in seed_rows])
    exact_mean = [
        (
            F.sum(F.col("_v")[i].cast("decimal(38,15)"))
            / F.count("*")
        ).cast("double").alias(f"_m{i}")
        for i in range(dim)
    ]
    for _ in range(iters):
        assign = _assign_centroids(base, cents, "_v", "_id", nprobe=1)
        upd = (
            base.join(assign, on="_id")
            .groupBy("centroid_id")
            .agg(*exact_mean)
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        for r in upd:
            new[int(r.centroid_id)] = [float(r[f"_m{i}"]) for i in range(dim)]
        cents = new
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k (the classic ANN scale path next to LSH):
    corpus vectors live in ONE inverted list each (their nearest
    centroid — n rows total, vs n_tables x n rows for LSH); queries
    probe their ``nprobe`` nearest lists; exact cosine re-ranks within.
    Candidate volume ~ nprobe/n_centroids of the corpus per query.
    Recall vs brute_force_topk is measured in tests, not assumed;
    pass ``centroids`` (persisted fit artifact) to skip the fit."""
    cents = (
        centroids
        if centroids is not None
        else ivf_fit(corpus, n_centroids, iters, vec_col, id_col, dim)
    )
    ca = _assign_centroids(corpus, cents, vec_col, id_col, nprobe=1)
    qa = _assign_centroids(queries, cents, vec_col, id_col, nprobe=nprobe)
    cand = (
        ca.select(F.col(id_col).alias("n_id"), "centroid_id")
        .join(
            qa.select(F.col(id_col).alias("q_id"), "centroid_id"),
            on="centroid_id",
        )
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        cand.join(c, on="n_id")
        .join(F.broadcast(q), on="q_id")
        .select(
            "q_id", "n_id", cosine_expr(F.col("q_vec"), F.col("n_vec")).alias("cos")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )


class IvfModel:
    """Persisted IVF coarse quantizer: the fit-once /
    load-everywhere artifact discipline TF-IDF and LDA already follow
    (`el/catalog.py` `load_or_fit`), applied to ANN. Production
    ann3 calls load centroids from ``_models``-style storage instead
    of re-running the Lloyd DataFrame jobs per query batch — the fit
    is a corpus statistic, not per-query work.

    Persistence is bit-exact (.npy round-trips float64 exactly), so a
    loaded model yields byte-identical assignments and top-k results
    to the in-memory fit it came from (asserted in tests)."""

    def __init__(self, centroids: np.ndarray, meta: dict | None = None):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.meta = meta or {}

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        n_centroids: int = 16,
        iters: int = 2,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        dim: int = 64,
    ) -> "IvfModel":
        cents = ivf_fit(df, n_centroids, iters, vec_col, id_col, dim)
        return cls(
            cents,
            {
                "n_centroids": n_centroids,
                "iters": iters,
                "dim": dim,
                "version": 1,
            },
        )

    def save(self, path: str) -> None:
        """centroids.npy, then the artifact commit (``commit_artifact``)."""
        commit_artifact(
            path,
            lambda: np.save(os.path.join(path, "centroids.npy"), self.centroids),
            self.meta,
        )

    @classmethod
    def load(cls, path: str) -> "IvfModel":
        cents = np.load(os.path.join(path, "centroids.npy"))
        return cls(cents, artifact_meta(path))

    @classmethod
    def fit_or_load(cls, df: DataFrame, path: str, **fit_kw) -> "IvfModel":
        """Load the committed artifact if present, else fit and save,
        through the one fit-once gate (``el.catalog.load_or_fit``). A
        loaded artifact must MATCH the requested fit params: serving
        an 8-centroid quantizer to a caller who asked for 32 would
        change nprobe behavior/recall with no error, so a mismatch
        raises."""
        return load_or_fit(path, cls.load, lambda: cls.fit(df, **fit_kw), fit_kw)

    def topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 2,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        return ivf_topk(
            corpus,
            queries,
            k=k,
            nprobe=nprobe,
            vec_col=vec_col,
            id_col=id_col,
            dim=int(self.meta.get("dim", 64)),
            centroids=self.centroids,
        )


def grouped_centroid_jvm(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """A4 scale variant: element-wise avg as ``dim`` builtin JVM
    aggregates. Unlike the pandas-UDAF form (grouped_centroid below),
    builtin avg gets MAP-SIDE PARTIAL AGGREGATION — each partition
    ships one (sum, count) accumulator per group instead of its raw
    vectors, so the shuffle is O(groups x dim) regardless of corpus
    size. Requires a fixed, known dim; plan audited in
    tests/test_plans.py (partial_avg present, no Python nodes)."""
    aggs = [
        F.avg(F.col(vec_col)[i].cast("double")).alias(f"_c{i}")
        for i in range(dim)
    ]
    out = df.groupBy(group_col).agg(*aggs, F.count("*").alias("n_members"))
    return out.select(
        group_col,
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
        "n_members",
    )


def grouped_centroid(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """A4 (SURVEY.md §2.4): per-group centroid of vector columns via a
    grouped-agg pandas UDF (one Arrow batch per group, numpy mean —
    the idiomatic vectorized UDAF; map-side partial agg does not apply
    to UDAFs, so groups shuffle raw vectors: acceptable because group
    count << row count and each group's batch is bounded by the
    group's size)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def centroid(vs: pd.Series) -> list:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        return mat.mean(axis=0).tolist()

    # Spark disallows mixing a group-agg pandas UDF with non-pandas
    # aggregates in one agg() — n_members is a second pandas UDAF
    @pandas_udf("long")
    def n_rows(vs: pd.Series) -> int:
        return len(vs)

    return df.groupBy(group_col).agg(
        centroid(F.col(vec_col)).alias("centroid"),
        n_rows(F.col(vec_col)).alias("n_members"),
    )


# -- int8 scalar-quantized (SQ) ANN --------------------------------------


def sq_quantize(vecs: np.ndarray) -> np.ndarray:
    """Symmetric per-vector int8 quantization: q = round(127*x/max|x|)
    (zero vectors stay zero). Cosine is scale-invariant, so ranking by
    cos(q_a, q_b) needs no scale bookkeeping at all. Pure function —
    identical on every executor; shared by the Spark kernel and the
    pytest oracle."""
    m = np.abs(vecs).max(axis=1, keepdims=True)
    m = np.maximum(m, 1e-30)
    return np.clip(np.rint(vecs * (127.0 / m)), -127, 127).astype(np.int8)


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank_factor: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via int8 scalar quantization + exact re-rank
    — the memory-bandwidth play at 100 TB: the candidate scan touches
    4x less data than float32 (16x less than float64) and the int8
    matmul is exact integer arithmetic, so candidate scores (and the
    result) are bit-deterministic across partitionings.

    Plan: queries are collected and quantized driver-side (the query
    set is small by contract — same stance as brute_force_topk's
    broadcast); ONE mapInPandas pass over the corpus quantizes each
    Arrow batch and emits only the per-batch top-R candidates per
    query (R = rerank_factor*k), a global window cuts those to the
    true approx top-R, and an exact float cosine re-ranks R rows per
    query down to k. No shuffle ever carries more than R rows per
    query.

    Partition invariance hinges on ONE total order — (acos desc,
    id asc) — applied both inside each batch and by the global
    window: any globally-top-R row is top-R in its own batch under
    the same order regardless of how rows landed in batches, so the
    candidate set (and the result) is identical for every
    partitioning. argpartition would break exactly this (ties at the
    boundary cut arbitrarily), hence the lexsort; self-matches are
    masked BEFORE the cut so a query's own row never displaces a
    boundary candidate in just one partitioning."""
    from el.io import scatter_small

    qrows = queries.select(id_col, vec_col).collect()
    out_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            T.StructField("n_id", T.LongType(), False),
            T.StructField("rank", T.IntegerType(), False),
        ]
    )
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])
    q_codes = sq_quantize(q_mat).astype(np.int32)
    q_norm = np.maximum(
        np.linalg.norm(q_codes.astype(np.float64), axis=1), 1e-30
    )
    r_per_q = max(k * rerank_factor, k)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = sq_quantize(vecs).astype(np.int32)
            # exact integer dot; norms make it the int8-space cosine
            dots = codes @ q_codes.T  # (n, Q), integer values
            nrm = np.maximum(
                np.linalg.norm(codes.astype(np.float64), axis=1), 1e-30
            )
            acos = dots / (nrm[:, None] * q_norm[None, :])
            ids = pdf[id_col].to_numpy()
            acos[ids[:, None] == q_ids[None, :]] = -np.inf  # self-matches
            r = min(r_per_q, n)
            # per-batch partial top-R per query under the SAME total
            # order as the global window: (acos desc, id asc)
            outs = []
            for j in range(len(q_ids)):
                sel = np.lexsort((ids, -acos[:, j]))[:r]
                outs.append(
                    pd.DataFrame(
                        {
                            "q_id": q_ids[j],
                            "n_id": ids[sel],
                            "acos": acos[sel, j],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    schema = T.StructType(
        [
            T.StructField("q_id", T.LongType(), False),
            T.StructField("n_id", T.LongType(), False),
            T.StructField("acos", T.DoubleType(), False),
        ]
    )
    cand = (
        scatter_small(corpus.select(id_col, vec_col))
        .mapInPandas(gen, schema=schema)
        .where(F.col("q_id") != F.col("n_id"))
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("acos").desc(), F.col("n_id"))
    cand = (
        cand.withColumn("_r", F.row_number().over(wr))
        .where(F.col("_r") <= r_per_q)
        .select("q_id", "n_id")
    )
    c = corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        cand.join(c, on="n_id")
        .join(F.broadcast(q), on="q_id")
        .select(
            "q_id", "n_id", cosine_expr(F.col("q_vec"), F.col("n_vec")).alias("cos")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "rank")
    )
