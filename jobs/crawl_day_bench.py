#!/usr/bin/env python
"""Production crawl-day loop at bench scale (VERDICT r4 #7).

tests/test_crawl_day.py pins the composed WARC -> hygiene -> base run
-> incremental absorbs -> delta-compaction story for CORRECTNESS at
fixture scale (360 pages). This job runs the identical composition at
bench scale (default 96,000 pages) and puts THROUGHPUT numbers on the
incremental path — the headline production story: a day of crawl
hours lands as WARC, each hour is absorbed incrementally, compaction
folds the deltas, and the result must satisfy the r5 equivalence
contract vs the single-batch run over the whole day: the incremental
pair set CONTAINS every batch pair (hard gate, count 0 — the skew cap
BINDS at this scale, so bit-identity is not the contract; see
el/incremental.py module docstring) and the clusterings agree at
ARI ~= 1.

Prints ONE JSON line:
  {"pages": N, "hours": H, "warc_write_sec": ..., "base_sec": ...,
   "absorb": [{"pages":..,"wall_sec":..,"pages_per_sec":..}, ...],
   "absorb_pages_per_sec": ..., "compact_sec": ..., "batch_sec": ...,
   "pair_superset_holds": true, "cluster_adjusted_rand": ..., ...}

Usage:  python jobs/crawl_day_bench.py [--pages 96000] [--hours 3]
        (local[$SPARK_GRAFT_CPUS], workdir on tmpfs when roomy)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=96_000)
    ap.add_argument("--hours", type=int, default=3)
    ap.add_argument("--score-chunks", type=int, default=8)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--skip-batch", action="store_true",
                    help="skip the single-batch equivalence run (halves "
                         "the wall; identity then NOT verified)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from el.catalog import HadoopParquetCatalog
    from el.conf import get_spark
    from el.fixtures import gen_web_pages
    from el.incremental import compact_deltas, incremental_update
    from el.pipeline import PipelineConfig
    from el.runner import RunConfig, run_checkpointed
    from el.textops import canonicalize_url
    from el.warc import read_warc, warc_to_pages, write_warc

    if args.workdir:
        work = args.workdir
    else:
        base = None
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 << 30:
                base = "/dev/shm"
        except OSError:
            pass
        work = tempfile.mkdtemp(prefix="el_crawlday_", dir=base)
    os.makedirs(work, exist_ok=True)

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "32"
    spark = get_spark(
        "el-crawl-day",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"pages": args.pages, "hours": args.hours, "cpus": int(cpus)}
    out["load_avg_start"] = tuple(round(x, 2) for x in os.getloadavg())

    pages = gen_web_pages(spark, args.pages).localCheckpoint(eager=True)

    # the day's crawl, split into canonical-key-disjoint "hours" (the
    # invariant a production crawl partitioner maintains; see
    # tests/test_crawl_day.py) and landed as WARC — per-record gzip
    # members, the Common Crawl layout
    t = time.time()
    h = F.pmod(
        F.xxhash64(canonicalize_url(F.col("url"))), F.lit(args.hours)
    )
    hour_dirs = []
    for k in range(args.hours):
        d = os.path.join(work, f"hour{k:02d}")
        write_warc(pages.where(h == k), d, num_files=8).collect()
        hour_dirs.append(d)
    out["warc_write_sec"] = round(time.time() - t, 2)

    # same config as the pinned correctness test: WARC carries no lang
    # column and the fixture corpus is pseudo-words, so warc_to_pages
    # re-derives lang as 'und' — gate on it to keep the filter active
    cfg = PipelineConfig(
        langs=("und",),
        use_lsh=True,
        use_topics=False,
        canonical_url_dedup=True,
        min_distinct_word_ratio=0.05,
        max_dup_2gram=0.9,
    )
    mdir = os.path.join(work, "models")
    cat = HadoopParquetCatalog(os.path.join(work, "cat_inc"))
    rc = RunConfig(
        run_id="day0", n_score_chunks=args.score_chunks,
        pipeline=cfg, model_dir=mdir,
    )

    t = time.time()
    batches = [
        warc_to_pages(read_warc(spark, d)).localCheckpoint(eager=True)
        for d in hour_dirs
    ]
    batch_counts = [b.count() for b in batches]
    out["warc_read_sec"] = round(time.time() - t, 2)
    out["pages_per_hour_dir"] = batch_counts

    # hour 0: base run (fits + persists models)
    t = time.time()
    run_checkpointed(spark, batches[0], cat, rc, resume=False)
    out["base_sec"] = round(time.time() - t, 2)
    out["base_pages_per_sec"] = round(batch_counts[0] / out["base_sec"], 1)

    # hours 1..H-1: incremental absorbs (THE headline number)
    absorbs = []
    last = None
    for k in range(1, args.hours):
        t = time.time()
        last = incremental_update(spark, batches[k], cat, rc)
        wall = time.time() - t
        absorbs.append({
            "pages": batch_counts[k],
            "wall_sec": round(wall, 2),
            "pages_per_sec": round(batch_counts[k] / wall, 1),
            "new_mentions": last["report"]["new_mentions"],
        })
    out["absorb"] = absorbs
    tot_p = sum(a["pages"] for a in absorbs)
    tot_w = sum(a["wall_sec"] for a in absorbs)
    out["absorb_pages_per_sec"] = round(tot_p / tot_w, 1)

    inc_clusters = last["clusters"].select("mention_id", "cluster_id")
    inc_rows = inc_clusters.count()
    out["n_mentions"] = inc_rows

    # end-of-day compaction folds every delta
    t = time.time()
    for base_tbl in ("mentions", "mentions_vec", "block_keys", "scored_pairs"):
        compact_deltas(spark, cat, base_tbl, run_id="day0")
    out["compact_sec"] = round(time.time() - t, 2)

    if not args.skip_batch:
        # equivalent single-batch run over the whole day (same models)
        all_pages = batches[0]
        for b in batches[1:]:
            all_pages = all_pages.unionByName(b)
        full_cat = HadoopParquetCatalog(os.path.join(work, "cat_full"))
        rc_full = RunConfig(
            run_id="dayfull", n_score_chunks=args.score_chunks,
            pipeline=cfg, model_dir=mdir,
        )
        t = time.time()
        full = run_checkpointed(spark, all_pages, full_cat, rc_full,
                                resume=False)
        out["batch_sec"] = round(time.time() - t, 2)
        out["batch_pages_per_sec"] = round(sum(batch_counts)
                                           / out["batch_sec"], 1)

        # Equivalence at bench scale. At 96k pages the skew cap BINDS
        # (hot LSH blocks run to ~13k members vs cap_k=64), so the r5
        # contract is checked exactly as stated (el/incremental.py
        # module docstring): the incremental pair set must CONTAIN
        # every batch pair (hard gate, count must be 0 — this is what
        # the r5 raw-keys redesign guarantees), and the clusterings
        # must agree at ARI ~= 1 (incremental may keep extra verified
        # pairs from members a later re-cap displaced, so bit-identity
        # is only expected when the cap never binds; reported anyway).
        from el.evaluate import clustering_agreement
        from el.incremental import _scored_pair_tables

        _, inc_scored = _scored_pair_tables(spark, cat)
        _, full_scored = _scored_pair_tables(spark, full_cat)
        missing = (
            full_scored.select("a_id", "b_id")
            .join(inc_scored.select("a_id", "b_id"),
                  on=["a_id", "b_id"], how="left_anti")
            .count()
        )
        out["batch_pairs_missing_from_incremental"] = missing
        out["pair_superset_holds"] = missing == 0

        full_clusters = full["clusters"].select("mention_id", "cluster_id")
        diff = (
            inc_clusters.exceptAll(full_clusters).count()
            + full_clusters.exceptAll(inc_clusters).count()
        )
        out["incremental_vs_batch_identical"] = diff == 0
        out["cluster_row_diff"] = diff
        agree = clustering_agreement(
            inc_clusters, full_clusters, id_col="mention_id"
        ).collect()[0]
        out["cluster_rand_index"] = agree.ri
        out["cluster_adjusted_rand"] = agree.ari

    out["load_avg_end"] = tuple(round(x, 2) for x in os.getloadavg())
    out["workdir_fs"] = "tmpfs" if work.startswith("/dev/shm") else "disk"
    print(json.dumps(out))
    if not args.workdir:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
