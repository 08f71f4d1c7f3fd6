#!/usr/bin/env python3
"""el benchmark: one closed-loop client driving el's public entry points.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Builds the workload's inputs from
``--seed``, sets it up (Spark start-up, corpus, fit-once models, base
run), then repeats the workload's timed cycle until ``--seconds`` have
passed (at least one cycle), checks every cycle's outputs and prints:

- one ``detail`` JSON line: per-operation timings, output digests and
  the box stamp (cpus, load average, steal over the timed region);
- as the LAST line, the result object
  ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
  ``metrics`` holds the end-to-end metrics; with ``--trace 1`` the
  per-layer metrics read from Spark's status store (perfbench/tracing.py).

``--out FILE`` also appends ``{"workload", "seed", "trace", "detail",
"result"}`` to FILE as one JSON line (the input of perfbench/compare.py).
``--check`` (crawl_day) additionally compares the absorbed pair set with
one batch run over the whole day; its timings are not comparable.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit; the JVM and its Python workers are
stopped and waited for before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from box import (  # noqa: E402
    STEAL_BOUND,
    RssSampler,
    busy_share,
    process_age_s,
    process_tree,
    stat_snap,
    steal_frac_between,
)

STAT_AT_START = stat_snap()

# -- Spark lifetime -------------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside ``work``; workers import ``el`` from the checkout."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["EL_SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("EL_DRIVER_MEM", "4g")
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )


def start_spark(work: str, trace: bool):
    from el.conf import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        # keep every job/stage/execution of the timed region in the
        # status store (monitoring only; execution is unchanged)
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark = get_spark("el-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process this
    run started has exited."""
    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


# -- main -------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args(argv)

    # the program must be importable before any process is started
    try:
        import el.runner  # noqa: F401
        import el.incremental  # noqa: F401
        import el.linking  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the el program: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    prepare_env(work)
    load_start = os.getloadavg()[0]
    spark = start_spark(work, bool(args.trace))
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, check=args.check)
        wl.setup()
        setup_wall_s = process_age_s()
        setup_s = setup_wall_s * busy_share(STAT_AT_START, stat_snap())

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        stat0 = stat_snap()
        t0 = time.monotonic()
        with RssSampler() as rss:
            while True:
                wl.cycle()
                if time.monotonic() - t0 >= args.seconds:
                    break
        timed_s = time.monotonic() - t0
        steal = steal_frac_between(stat0, stat_snap())
        layers = metrics = None
        if tracer is not None:
            tracer.uninstall()
            layers = tracer.harvest()
        checks = wl.check()
        if layers is not None:
            metrics = wl.layer_metrics(layers)
        load_end = os.getloadavg()[0]
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    failed_ops = sorted({c["op"] for c in checks if not c["ok"]})
    attempted = wl.attempted()
    failed = len(failed_ops)
    e2e = wl.end_to_end()
    e2e["setup_s"] = setup_s
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "load1_start": load_start,
            "load1_end": load_end,
            "steal_frac": steal,
            "steal_bound": STEAL_BOUND,
            "steal_flagged": steal is not None and steal > STEAL_BOUND,
        },
        "timed_s": timed_s,
        "setup_wall_s": setup_wall_s,
        "setup_phases": wl.setup_phases,
        "peak_rss_mb": rss.peak_mb,
        "rss_at_peak": rss.at_peak,
        "ops": wl.ops,
        "outputs": wl.outputs,
        "checks": checks,
        "failed_ops": failed_ops,
        "end_to_end": e2e,
    }
    if layers is not None:
        detail["spans"] = layers["n_spans"]
        detail["unattributed"] = layers["unattributed"]
    else:
        metrics = e2e
    units = wl.units()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print("detail " + json.dumps(detail))
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "trace": args.trace, "detail": detail,
                                "result": result}) + "\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
