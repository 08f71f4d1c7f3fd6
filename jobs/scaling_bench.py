#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.json north_rule: >=0.8
throughput scaling efficiency from N to 4N executors; task-brief
sandbox protocol: same job, same input, ``--master local[8]`` vs
``--master local[32]`` on this 32-core host, via spark-submit
--py-files el.zip — the mandated deployment shape).

Protocol:
1. package ``el/`` into el.zip
2. PREP run (untimed): fits TF-IDF + LDA once and saves the artifacts
   — both timed runs LOAD the same models, so their compute is
   identical and deterministic (SURVEY.md §4.4)
3. timed run at local[8], CPU-PINNED to 8 cores  -> catalog A
4. timed run at local[32] on all 32 cores        -> catalog B
5. efficiency = (pairs/sec at 32) / (4 x pairs/sec at 8), on the
   scoring stage (the BASELINE.md throughput metric) and end-to-end
6. determinism evidence: per-url extract_sha sets and the cluster
   partition must be IDENTICAL between the two runs

CPU pinning (the fix for r1's misleading numbers): an "N-executor"
run must only OWN N cores. Unpinned, the local[8] JVM's task threads
+ 8 Python UDF workers + GC/shuffle/IPC threads spread over all 32
host cores (~16 runnable threads, a full core each), while the
local[32] run self-contends (64+ runnable threads on 32 cores, half
a core each) — the N-level throughput is inflated by up to 2x and
the measured "efficiency" converges to 0.5 regardless of plan
quality (exactly r1's 0.50). ``taskset -c 0-(N-1)`` gives each level
the core budget a real N-core executor node would have; on an actual
cluster every node runs the same thread mix on its own cores, which
is what the pinned runs emulate. Pass --no-pin to reproduce the
unpinned (flawed) protocol.

Prints one JSON line; paste the numbers into BASELINE.md §scaling.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_zip(path: str) -> str:
    zpath = os.path.join(path, "el.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, names in os.walk(os.path.join(REPO, "el")):
            if "__pycache__" in dirpath:
                continue
            for name in sorted(names):
                if name.endswith(".py"):
                    fp = os.path.join(dirpath, name)
                    z.write(fp, os.path.relpath(fp, REPO))
    return zpath


def _pin_prefix(cpus: int | None) -> list[str]:
    """taskset prefix giving the run a core budget == its parallelism
    (None -> unpinned). Pinning requested without taskset available is
    a hard error: silently falling back to unpinned would emit a
    protocol field claiming a pinned run — exactly the protocol flaw
    the pinning exists to fix."""
    if cpus is None:
        return []
    if not shutil.which("taskset"):
        raise RuntimeError(
            "CPU pinning requested but 'taskset' is not on PATH; pass "
            "--no-pin to accept (and honestly report) the unpinned protocol"
        )
    return ["taskset", "-c", f"0-{cpus - 1}"]


def submit(master: str, zpath: str, out: str, pages: int, model_dir: str,
           chunks: int, pin_cpus: int | None = None) -> dict:
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(shutil.which("python"))),
        "bin", "spark-submit",
    )
    cmd = _pin_prefix(pin_cpus) + [
        spark_submit,
        "--master", master,
        # driver memory MUST be on the submit command line: in local
        # mode the driver JVM is the executor, and in-code
        # spark.driver.memory is ignored once the JVM exists (a 1g
        # default heap GC-thrashes at local[32])
        "--driver-memory", os.environ.get("EL_DRIVER_MEM", "8g"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "run_pipeline.py"),
        "--pages", str(pages),
        "--out", out,
        "--model-dir", model_dir,
        "--score-chunks", str(chunks),
        "--master", master,
    ]
    env = dict(os.environ)
    # this sandbox's DNS resolver is blackholed (192.0.2.1): without a
    # pinned local IP, hostname resolutions inside Spark stall for
    # seconds at a time (measured: +50% e2e wall)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:])
        raise RuntimeError(f"run at {master} produced no JSON")
    return json.loads(lines[-1])


def compare_tables(out_a: str, out_b: str) -> dict:
    """Determinism: extract_sha per url and cluster partition equal."""
    import duckdb

    con = duckdb.connect()
    sha_diff = con.execute(
        f"""
        SELECT count(*) FROM (
          SELECT url, extract_sha FROM read_parquet('{out_a}/mentions/*.parquet')
          EXCEPT
          SELECT url, extract_sha FROM read_parquet('{out_b}/mentions/*.parquet')
        )"""
    ).fetchone()[0]
    cl_diff = con.execute(
        f"""
        SELECT count(*) FROM (
          SELECT mention_id, cluster_id FROM read_parquet('{out_a}/clusters/*.parquet')
          EXCEPT
          SELECT mention_id, cluster_id FROM read_parquet('{out_b}/clusters/*.parquet')
        )"""
    ).fetchone()[0]
    return {"extract_sha_mismatches": sha_diff, "cluster_mismatches": cl_diff}


def kernel_scaling(work: str, levels: list[int], reps: int,
                   pin: bool = True) -> dict:
    """Scoring-throughput scaling with storage effects excluded: time
    ONLY the scoring operator (noop sink, pre-materialized inputs,
    min-of-reps to reject hypervisor-steal outliers) at each
    parallelism level, each in a fresh interpreter. This is the
    cleanest same-box proxy for compute scaling — end-to-end runs on
    this sandbox are dominated by shared-virtual-disk writes and
    20-30%% CPU steal (see BASELINE.md §scaling)."""
    script = r"""
import json, sys, time
from el.conf import get_spark
from el.scoring import ScoringConfig, score_pairs
level, work, reps = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = get_spark('kscale', master=f'local[{level}]',
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
# stream inputs from parquet (tmpfs workdir): localCheckpoint-ing a
# ~10M-row pair table pins GBs of deserialized blocks in the shared
# local-mode heap, which squeezes execution memory 4x harder at the
# 4N level and corrupts the comparison (measured r2)
pairs = spark.read.parquet(f'{work}/prep/candidate_pairs')
mv = spark.read.parquet(f'{work}/prep/mentions_vec')
sc = score_pairs(pairs, mv, ScoringConfig())
n = pairs.count()
walls = []
for _ in range(reps):
    t = time.time()
    sc.write.format("noop").mode("overwrite").save()
    walls.append(time.time() - t)
print(json.dumps({"level": level, "n_pairs": n, "walls": walls}))
"""
    out = {}
    for level in levels:
        env = dict(os.environ)
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        proc = subprocess.run(
            _pin_prefix(level if pin else None)
            + [sys.executable, "-c", script, str(level), work, str(reps)],
            capture_output=True, text=True, env=env, cwd=REPO,
        )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(proc.stderr[-2000:])
            raise RuntimeError(f"kernel run at local[{level}] failed")
        r = json.loads(lines[-1])
        out[level] = {
            "min_wall_sec": round(min(r["walls"]), 2),
            "walls": [round(w, 2) for w in r["walls"]],
            "pairs_per_sec": round(r["n_pairs"] / min(r["walls"]), 1),
        }
    return out


def dedup_kernel_scaling(work: str, levels: list[int], reps: int,
                         n_docs: int, pin: bool = True) -> dict:
    """Same CPU-pinned min-of-reps protocol as kernel_scaling, applied
    to the dd4b near-dup kernel: MinHash band keys ->
    capped bucket self-join -> size-ratio prune -> exact-Jaccard
    verify, over a pre-materialized document corpus, noop sink. The
    corpus is the synthetic generator in the prep script below —
    60-token docs from a 4096-word vocab, every 4th doc a 10%-token-
    perturbed near-dup of its predecessor, each row a pure function of
    doc_id — so the verify stage does real work at every level and the
    input is bit-identical across parallelisms. Throughput unit:
    docs/sec (corpus rows / wall); n_pairs recorded and asserted
    identical across levels."""
    prep = r"""
import json, sys
import numpy as np
import pandas as pd
from el.conf import get_spark
from el.hashing import splitmix64
work, n_docs = sys.argv[1], int(sys.argv[2])
spark = get_spark('ddprep', extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")

# deterministic corpus with PLANTED near-dups: every doc is a pure
# function of its id (partition-invariant); docs with id % 4 == 1 are
# near-dups of id-1 (each token independently replaced with p=0.1, so
# token-3-gram Jaccard lands ~0.6-0.8, above the 0.5 threshold), all
# other docs are unrelated draws from a 4096-word vocab.
L, VOCAB = 60, 4096
def _words(h):
    return np.char.add("w", (h % VOCAB).astype("U4"))
def gen(batches):
    for pdf in batches:
        ids = pdf["id"].to_numpy().astype(np.int64)
        base = ids - (ids % 4 == 1)
        pos = np.arange(L, dtype=np.int64)
        hb = splitmix64((base[:, None] * L + pos[None, :]).astype(np.uint64))
        toks = _words(hb)
        hr = splitmix64((ids[:, None] * L + pos[None, :] + 0x9E37).astype(np.uint64))
        repl = (hr % 10 == 0) & (ids[:, None] % 4 == 1)
        toks = np.where(repl, _words(hr >> 13), toks)
        texts = [" ".join(row) for row in toks]
        yield pd.DataFrame({"doc_id": ids, "text": texts})
docs = spark.range(n_docs).repartition(32).mapInPandas(
    gen, schema="doc_id long, text string")
docs.write.mode("overwrite").parquet(f'{work}/prep/dd_docs')
print(json.dumps({"n_docs": spark.read.parquet(f'{work}/prep/dd_docs').count()}))
"""
    script = r"""
import json, sys, time
from el.conf import get_spark
from el.dedup import ngram_jaccard_pairs
level, work, reps = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = get_spark('ddscale', master=f'local[{level}]',
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(f'{work}/prep/dd_docs')
n = docs.count()
pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5, method="minhash")
walls = []
for _ in range(reps):
    t = time.time()
    pairs.write.format("noop").mode("overwrite").save()
    walls.append(time.time() - t)
n_pairs = pairs.count()
print(json.dumps({"level": level, "n_docs": n, "n_pairs": n_pairs,
                  "walls": walls}))
"""
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    proc = subprocess.run(
        [sys.executable, "-c", prep, work, str(n_docs)],
        capture_output=True, text=True, env=env, cwd=REPO,
    )
    if not [l for l in proc.stdout.splitlines() if l.startswith("{")]:
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError("dedup kernel prep failed")
    out = {}
    pair_counts = set()
    for level in levels:
        proc = subprocess.run(
            _pin_prefix(level if pin else None)
            + [sys.executable, "-c", script, str(level), work, str(reps)],
            capture_output=True, text=True, env=env, cwd=REPO,
        )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(proc.stderr[-2000:])
            raise RuntimeError(f"dedup kernel run at local[{level}] failed")
        r = json.loads(lines[-1])
        pair_counts.add(r["n_pairs"])
        out[level] = {
            "min_wall_sec": round(min(r["walls"]), 2),
            "walls": [round(w, 2) for w in r["walls"]],
            "docs_per_sec": round(r["n_docs"] / min(r["walls"]), 1),
            "n_pairs": r["n_pairs"],
        }
    if len(pair_counts) != 1:
        raise RuntimeError(
            f"dd4b pair count drifted across parallelism levels: {out}"
        )
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=6000)
    ap.add_argument("--small", type=int, default=8)
    ap.add_argument("--large", type=int, default=32)
    ap.add_argument("--score-chunks", type=int, default=4)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--kernel-levels", default="4,8,16,32",
                    help="parallelism sweep for the scoring-kernel scaling "
                         "(N->4N efficiency reported for every 4x pair)")
    ap.add_argument("--kernel-reps", type=int, default=6,
                    help="min-of-reps per level (the min rejects the "
                         "hypervisor's multi-second random vCPU stalls)")
    ap.add_argument("--no-pin", action="store_true",
                    help="disable CPU pinning (r1's flawed protocol)")
    ap.add_argument("--dedup-docs", type=int, default=96_000,
                    help="corpus rows for the dd4b dedup-kernel sweep")
    ap.add_argument("--mode", choices=["full", "kernel-dedup", "kernel"],
                    default="full",
                    help="kernel-dedup: run ONLY the dd4b kernel sweep "
                         "(one JSON line), skipping the pipeline runs; "
                         "kernel: run ONLY the scoring-kernel sweep, "
                         "reusing --workdir/prep when present (re-measure "
                         "a stalled level without repaying the e2e runs)")
    args = ap.parse_args()

    pin = not args.no_pin
    if args.workdir:
        work = args.workdir
    else:
        # tmpfs workdir when roomy: the shared virtual disk's
        # concurrent-write collapse would otherwise dominate both
        # runs (a real cluster's per-node NVMe scales with nodes)
        base = None
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 << 30:
                base = "/dev/shm"
        except OSError:
            pass
        work = tempfile.mkdtemp(prefix="el_scaling_", dir=base)
    os.makedirs(work, exist_ok=True)

    if args.mode == "kernel-dedup":
        levels = [int(x) for x in args.kernel_levels.split(",") if x]
        kernel = dedup_kernel_scaling(
            work, levels, args.kernel_reps, args.dedup_docs, pin=pin
        )
        eff = {}
        for a in levels:
            for b in levels:
                if b == 4 * a:
                    eff[f"{a}->{b}"] = round(
                        kernel[b]["docs_per_sec"]
                        / (4.0 * kernel[a]["docs_per_sec"]),
                        3,
                    )
        print(json.dumps({
            "kernel": "dd4b ngram_jaccard_pairs (minhash)",
            "docs": args.dedup_docs,
            "protocol": (
                "cpu-pinned (taskset: core budget == parallelism)" if pin
                else "unpinned"
            ),
            "workdir_fs": "tmpfs" if work.startswith("/dev/shm") else "disk",
            "dedup_kernel_scaling": kernel,
            "dedup_kernel_efficiency_Nto4N": eff,
            "workdir": work,
        }))
        return

    if args.mode == "kernel":
        if not os.path.isdir(os.path.join(work, "prep", "candidate_pairs")):
            zpath = make_zip(work)
            submit(f"local[{args.large}]", zpath,
                   os.path.join(work, "prep"), args.pages,
                   os.path.join(work, "models"), args.score_chunks)
        levels = [int(x) for x in args.kernel_levels.split(",") if x]
        kernel = kernel_scaling(work, levels, args.kernel_reps, pin=pin)
        eff = {}
        for a in levels:
            for b in levels:
                if b == 4 * a:
                    eff[f"{a}->{b}"] = round(
                        kernel[b]["pairs_per_sec"]
                        / (4.0 * kernel[a]["pairs_per_sec"]),
                        3,
                    )
        print(json.dumps({
            "kernel": "scoring (score_pairs, noop sink)",
            "pages": args.pages,
            "protocol": (
                "cpu-pinned (taskset: core budget == parallelism)" if pin
                else "unpinned"
            ),
            "workdir_fs": "tmpfs" if work.startswith("/dev/shm") else "disk",
            "kernel_scaling": kernel,
            "kernel_efficiency_Nto4N": eff,
            "workdir": work,
        }))
        return

    zpath = make_zip(work)
    model_dir = os.path.join(work, "models")

    # prep: fit models once (untimed; result catalog discarded)
    submit(f"local[{args.large}]", zpath, os.path.join(work, "prep"),
           args.pages, model_dir, args.score_chunks)

    r_small = submit(f"local[{args.small}]", zpath,
                     os.path.join(work, "runA"), args.pages, model_dir,
                     args.score_chunks,
                     pin_cpus=args.small if pin else None)
    r_large = submit(f"local[{args.large}]", zpath,
                     os.path.join(work, "runB"), args.pages, model_dir,
                     args.score_chunks,
                     pin_cpus=args.large if pin else None)

    def tput(r):
        s = r["stages"]["scored_pairs"]
        return s["rows"] / (s["wall_ms"] / 1000.0)

    factor = args.large / args.small
    eff_score = tput(r_large) / (factor * tput(r_small))
    eff_e2e = (r_small["wall_sec"] / r_large["wall_sec"]) / factor
    det = compare_tables(os.path.join(work, "runA"), os.path.join(work, "runB"))

    levels = [int(x) for x in args.kernel_levels.split(",") if x]
    kernel = kernel_scaling(work, levels, args.kernel_reps, pin=pin)
    kernel_eff = {}
    for a in levels:
        for b in levels:
            if b == 4 * a:
                kernel_eff[f"{a}->{b}"] = round(
                    kernel[b]["pairs_per_sec"]
                    / (4.0 * kernel[a]["pairs_per_sec"]),
                    3,
                )

    print(json.dumps({
        "pages": args.pages,
        "deployment": "spark-submit --py-files el.zip jobs/run_pipeline.py",
        "protocol": (
            "cpu-pinned (taskset: core budget == parallelism)" if pin
            else "unpinned"
        ),
        "workdir_fs": "tmpfs" if work.startswith("/dev/shm") else "disk",
        "small": {"master": f"local[{args.small}]",
                  "wall_sec": r_small["wall_sec"],
                  "score_wall_ms": r_small["stages"]["scored_pairs"]["wall_ms"],
                  "pairs_per_sec": round(tput(r_small), 1)},
        "large": {"master": f"local[{args.large}]",
                  "wall_sec": r_large["wall_sec"],
                  "score_wall_ms": r_large["stages"]["scored_pairs"]["wall_ms"],
                  "pairs_per_sec": round(tput(r_large), 1)},
        "scaling_efficiency_scoring": round(eff_score, 3),
        "scaling_efficiency_e2e": round(eff_e2e, 3),
        "kernel_scaling": kernel,
        "kernel_efficiency_Nto4N": kernel_eff,
        "determinism": det,
        "workdir": work,
    }))


if __name__ == "__main__":
    main()
