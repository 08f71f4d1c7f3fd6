#!/usr/bin/env python
"""Quantify the DEFAULT_MAX_BUCKET=1000 recall cost at scale.

Since r4 every dd-family candidate generator caps hot buckets at 1000
members by default. The ≤6% wall tax is measured (BASELINE.md r4); this
job measures the other side of the trade — the RECALL effect — on the
scaling web corpus (gen_web_pages, the same generator the pipeline
scaling protocol uses):

1. recall-vs-truth at ``--pages-recall`` (default 24,000 — the largest
   scale where the UNCAPPED run, whose hot band buckets go quadratic,
   is still tractable in this sandbox):
     - dd4b (ngram_jaccard_pairs, minhash path, default S-curve config)
     - dd5b (embedding_neardup_pairs, multi-probe LSH, near-dup
       threshold 0.8) over deterministic token-hash sign-projection
       embeddings of the same corpus (near-dup texts -> cosine ~ 1)
   "truth" is the SAME blocked method with max_bucket=None, so the
   number isolates exactly what the cap changes (the blocked-vs-
   unblocked recall is pinned separately by the dd4b/dd5b oracles).
   Capped pairs are asserted to be a SUBSET of the truth pairs.

   The raw page corpus has NO true token-Jaccard>=0.3 pairs between
   distinct urls (measured — its hot LSH buckets are boilerplate-
   shingle collisions, exactly the skew the cap exists to bound, not
   true near-dups), so every 10th document is planted with a
   deterministic near-dup VARIANT (distinct id, text + a 2-token
   suffix, Jaccard ~= 0.98): the truth set is those planted pairs
   plus anything else the uncapped run finds, and the measurement is
   whether cap-1000 truncation of the hot boilerplate buckets loses
   any TRUE pair (a pair is lost only if every one of its 16 band
   buckets / 8 probed tables drops one side).

2. drop accounting at ``--pages-stats`` (default 96,000, linear — no
   pair generation): bucket_load_stats over the exact keyed tables the
   two generators build, reporting how many buckets the cap truncates,
   how many members drop, and the in-bucket candidate pairs lost
   (sum over truncated buckets of C(n,2) - C(cap,2)).

Prints ONE JSON line; numbers land in BASELINE.md (r5 section).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def text_embeddings(df, text_col="text", id_col="doc_id", dim=64):
    """Deterministic dense embeddings: sum of per-token sign vectors
    (the 64 bits of splitmix64(token_hash) mapped to +-1), normalized.
    A SimHash-style projection — near-dup texts share almost all
    tokens so their cosine ~ 1, disjoint texts ~ 0 — giving the
    embedding corpus the SAME near-dup cluster structure as the text
    corpus, with no RNG anywhere (bit-stable across partitionings)."""
    import numpy as np
    import pandas as pd

    from el.dedup import token_hashes
    from el.hashing import splitmix64

    if dim != 64:
        raise ValueError("sign-projection uses the 64 bits of one hash")

    def gen(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            vecs = []
            for t in pdf[text_col]:
                toks = (t or "").split()
                if not toks:
                    vecs.append([0.0] * 64)
                    continue
                hs = splitmix64(token_hashes(toks))
                bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                v = (bits.astype(np.float32) * 2.0 - 1.0).sum(axis=0)
                n = float(np.linalg.norm(v))
                vecs.append([float(x) for x in (v / n if n else v)])
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": vecs})

    return df.mapInPandas(gen, schema=f"{id_col} long, embedding array<float>")


def _bucket_summary(stats_df, cap: int) -> dict:
    """Aggregate a bucket_load_stats frame into the drop-accounting
    numbers: candidate pairs lost in a truncated bucket of n members
    is C(n,2) - C(cap,2)."""
    from pyspark.sql import functions as F

    n = F.col("n_members").cast("long")
    pairs_lost = F.when(
        n > cap,
        (n * (n - 1) - cap * (cap - 1)) / 2,
    ).otherwise(F.lit(0))
    row = stats_df.agg(
        F.count("*").alias("n_buckets"),
        F.max("n_members").alias("max_bucket_size"),
        F.sum(F.when(n > cap, 1).otherwise(0)).alias("truncated_buckets"),
        F.sum("n_members").alias("members_total"),
        F.sum("n_dropped").alias("members_dropped"),
        F.sum(pairs_lost).cast("long").alias("in_bucket_pairs_lost"),
    ).collect()[0]
    return {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-recall", type=int, default=24_000)
    ap.add_argument("--pages-stats", type=int, default=96_000)
    ap.add_argument("--cap", type=int, default=None,
                    help="default: el.dedup.DEFAULT_MAX_BUCKET")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from el.conf import get_spark
    from el.dedup import (
        DEFAULT_MAX_BUCKET,
        bucket_load_stats,
        embedding_neardup_pairs,
        ngram_jaccard_pairs,
    )
    from el.fixtures import gen_web_pages
    from el.io import scatter_small
    from el.minhash import lsh_band_keys
    from el.similarity import lsh_buckets

    cap = args.cap if args.cap is not None else DEFAULT_MAX_BUCKET
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    spark = get_spark(
        "el-cap-recall",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {
        "cap": cap,
        "pages_recall": args.pages_recall,
        "pages_stats": args.pages_stats,
        "cpus": int(cpus),
        "load_avg_start": tuple(round(x, 2) for x in os.getloadavg()),
    }

    # dd5b scale regime: n_planes sized for the corpus (3 planes = 8
    # buckets/table is the sf0.1 / 2k-vector setting; at 24k-96k
    # vectors every bucket would be "hot" and the measurement would be
    # of under-bucketing, not of the cap), threshold 0.8 = the
    # near-dup regime for sign-projection embeddings (template-twins
    # sit ~0.4-0.6; planted variants ~0.99).
    dd5b_conf = dict(threshold=0.8, method="lsh", n_planes=6,
                     n_tables=8, probe_bits=1)

    def docs_of(n_pages, plant_variants=False):
        # one document per URL: the corpus contains recrawls (same url,
        # same text, later warc_ts) which would otherwise alias to the
        # same doc_id and double-enter every gram/vector table
        pages = gen_web_pages(spark, n_pages)
        docs = (
            pages.select(
                F.xxhash64("url").alias("doc_id"), F.col("text")
            )
            .where(F.length("text") > 0)
            .dropDuplicates(["doc_id"])
        )
        if plant_variants:
            # deterministic near-dup twin for every 10th doc: fresh id,
            # text + 2-token suffix => token-3-gram Jaccard ~0.98
            variants = docs.where(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10)) == 0
            ).select(
                F.xxhash64(F.col("doc_id").cast("string"), F.lit("v"))
                .alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" variant "),
                    F.pmod(F.xxhash64("doc_id"), F.lit(7)).cast("string"),
                ).alias("text"),
            )
            docs = docs.unionByName(variants)
        return docs.localCheckpoint(eager=True)

    # ---- 1. recall vs uncapped truth (quadratic side bounded) ----------
    docs = docs_of(args.pages_recall, plant_variants=True)
    out["docs_recall"] = docs.count()
    emb = text_embeddings(docs).localCheckpoint(eager=True)

    for name, fn in (
        ("dd4b", lambda mb: ngram_jaccard_pairs(
            docs, text_col="text", id_col="doc_id", max_bucket=mb)),
        ("dd5b", lambda mb: embedding_neardup_pairs(
            emb, vec_col="embedding", id_col="doc_id",
            max_bucket=mb, **dd5b_conf)),
    ):
        t0 = time.time()
        truth = fn(None).select("a_id", "b_id").localCheckpoint(eager=True)
        wall_truth = time.time() - t0
        t0 = time.time()
        capped_ = fn(cap).select("a_id", "b_id").localCheckpoint(eager=True)
        wall_capped = time.time() - t0
        n_truth = truth.count()
        n_capped = capped_.count()
        violations = capped_.join(
            truth, on=["a_id", "b_id"], how="left_anti"
        ).count()
        out[name] = {
            "pairs_truth": n_truth,
            "pairs_capped": n_capped,
            "recall": round(n_capped / n_truth, 6) if n_truth else 1.0,
            "subset_violations": violations,
            "wall_uncapped_sec": round(wall_truth, 2),
            "wall_capped_sec": round(wall_capped, 2),
        }

    # ---- 2. drop accounting at full bench scale (linear) ---------------
    docs_big = docs_of(args.pages_stats, plant_variants=True)
    out["docs_stats"] = docs_big.count()
    keyed = lsh_band_keys(
        scatter_small(
            docs_big.select(
                F.col("doc_id").alias("mention_id"),
                F.col("doc_id").cast("string").alias("url"),
                F.col("text").alias("context"),
            )
        ),
        shingle_k=5, rows=4, bands=16,
    )
    out["dd4b_stats_full"] = _bucket_summary(
        bucket_load_stats(keyed, "block_key", "mention_id", cap=cap), cap
    )
    emb_big = text_embeddings(docs_big).localCheckpoint(eager=True)
    buckets = lsh_buckets(
        emb_big, dd5b_conf["n_planes"], dd5b_conf["n_tables"], 11,
        "embedding", "doc_id",
    )
    out["dd5b_stats_full"] = _bucket_summary(
        bucket_load_stats(buckets, "bucket", "doc_id", cap=cap), cap
    )

    out["load_avg_end"] = tuple(round(x, 2) for x in os.getloadavg())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
