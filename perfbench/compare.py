#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Collect runs of two checkouts, alternating which side runs first in
each pair (pair i runs both sides on seed ``--seed0 + i``):

    python3 perfbench/compare.py collect --parent ../parent --change . \\
        --workload batch_resolve --workload crawl_day --runs 10 --out runs.jsonl

Report each (metric, workload) from the collected records (or from
files written by ``run.py --out`` with ``--parent-file/--change-file``):

    python3 perfbench/compare.py report runs.jsonl

For each metric and workload the report gives each side's median and
quartiles, the share of seed-matched pairs the change wins (ties count
for neither), and a verdict against the metric's bound in
BENCHMARK.json:

- ``unresolved``: the parent's own spread (quartile distance over its
  median) exceeds the bound, unless every change run beats every
  parent run;
- ``regression``: the change's median is worse than the parent's by
  more than the bound;
- ``gain``: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's quartile distance;
- ``no change`` otherwise.

It also flags seeds whose output digests differ between the sides, and
prints the tracing overhead when traced (``--trace 1``) records exist.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
WIN_SHARE = 0.9


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def collect(args) -> int:
    sides = [("parent", os.path.abspath(args.parent)),
             ("change", os.path.abspath(args.change))]
    with open(args.out, "a") as out:
        for i in range(args.runs):
            seed = args.seed0 + i
            for workload in args.workload:
                order = sides if i % 2 == 0 else sides[::-1]
                for side, root in order:
                    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
                           "--workload", workload, "--seed", str(seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace)]
                    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                                       timeout=args.timeout)
                    lines = p.stdout.strip().splitlines()
                    if p.returncode != 0 or not lines:
                        print(f"{side} {workload} seed {seed}: exit {p.returncode}\n"
                              f"{p.stderr[-2000:]}", file=sys.stderr)
                        continue
                    detail = next((json.loads(ln[len("detail "):]) for ln in lines
                                   if ln.startswith("detail ")), None)
                    rec = {"side": side, "pair": i, "workload": workload,
                           "seed": seed, "trace": args.trace, "detail": detail,
                           "result": json.loads(lines[-1])}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i} {workload} {side}: "
                          f"{json.dumps(rec['result']['metrics'])}", flush=True)
    return 0


def _load(path: str, side: str | None = None) -> list[dict]:
    recs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                if side is not None:
                    rec["side"] = side
                recs.append(rec)
    return recs


def _digests(detail: dict | None):
    if not detail:
        return None
    return json.dumps(detail.get("outputs"), sort_keys=True)


def report(args) -> int:
    if args.records:
        recs = _load(args.records)
    else:
        recs = _load(args.parent_file, "parent") + _load(args.change_file, "change")
    with open(args.benchmark) as f:
        bench = json.load(f)
    meta = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}

    untraced = [r for r in recs if r["trace"] == 0]
    rows = []
    for workload in sorted({r["workload"] for r in recs}):
        for trace in (0, 1):
            sel = [r for r in recs if r["workload"] == workload and r["trace"] == trace]
            for name in sorted({k for r in sel for k in r["result"]["metrics"]}):
                m = meta.get(name, {"better": "lower"})
                vals = {s: {r["seed"]: r["result"]["metrics"][name]["value"]
                            for r in sel if r["side"] == s
                            and name in r["result"]["metrics"]}
                        for s in ("parent", "change")}
                rows.append(_row(workload, name, m, vals))
        for r in recs:
            if r["workload"] == workload and not r["result"]["correct"]:
                print(f"FAILED CHECKS: {r['side']} {workload} seed {r['seed']}: "
                      f"{r['detail'] and r['detail'].get('failed_ops')}")
        by_seed: dict[int, dict] = {}
        for r in untraced:
            if r["workload"] == workload:
                by_seed.setdefault(r["seed"], {})[r["side"]] = _digests(r["detail"])
        for seed, d in sorted(by_seed.items()):
            if len(d) == 2 and d["parent"] != d["change"]:
                print(f"OUTPUTS DIFFER: {workload} seed {seed}")

    hdr = ("workload", "metric", "parent med [q1, q3]", "change med [q1, q3]",
           "delta", "wins", "verdict")
    print("\t".join(hdr))
    for row in rows:
        print("\t".join(row))
    _overhead(recs)
    return 0


def _fmt(xs: list[float]) -> str:
    if not xs:
        return "-"
    q1, q2, q3 = quartiles(xs)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(xs)}"


def _rel(x: float, base: float) -> float:
    """(x - base) / |base|; a change from 0 is infinite."""
    if base:
        return (x - base) / abs(base)
    return 0.0 if x == base else math.copysign(math.inf, x - base)


def _row(workload: str, name: str, meta: dict, vals: dict) -> tuple:
    par, chg = vals["parent"], vals["change"]
    p, c = list(par.values()), list(chg.values())
    lower = meta.get("better") == "lower"
    if not p or not c:
        return (workload, name, _fmt(p), _fmt(c), "-", "-", "one side only")
    pm, cm = statistics.median(p), statistics.median(c)
    seeds = sorted(set(par) & set(chg))
    wins = sum((chg[s] < par[s]) if lower else (chg[s] > par[s]) for s in seeds)
    win_share = wins / len(seeds) if seeds else 0.0
    rel = _rel(cm, pm)
    worse = rel if lower else -rel
    bound = meta.get("bound")
    iqr = quartiles(p)[2] - quartiles(p)[0]
    all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
    if bound is not None and spread(p) > bound and not all_better:
        verdict = "unresolved"
    elif bound is not None and worse > bound:
        verdict = "regression"
    elif win_share >= WIN_SHARE and abs(cm - pm) > iqr:
        verdict = "gain"
    else:
        verdict = "no change"
    delta = f"{rel:+.1%}"
    return (workload, name, _fmt(p), _fmt(c), delta,
            f"{wins}/{len(seeds)}", verdict)


def _overhead(recs: list[dict]) -> None:
    """Traced minus untraced medians of pages_per_s and absorb_hour_s."""
    for side in ("parent", "change"):
        for workload in sorted({r["workload"] for r in recs}):
            sel = [r for r in recs if r["side"] == side and r["workload"] == workload]
            traced = [r["result"]["metrics"] for r in sel if r["trace"] == 1]
            plain = [r for r in sel if r["trace"] == 0]
            if not traced or not plain:
                continue
            t_pps = statistics.median(m["op.pages_per_s"]["value"] for m in traced)
            u_pps = statistics.median(r["result"]["metrics"]["pages_per_s"]["value"]
                                      for r in plain)
            line = (f"tracing overhead {side} {workload}: pages_per_s "
                    f"{t_pps - u_pps:+.4g} (traced {t_pps:.4g}, untraced {u_pps:.4g})")
            absorbs = [o["s"] for r in plain for o in r["detail"]["ops"]
                       if o["op"] == "absorb"]
            if absorbs:
                t_abs = statistics.median(m["op.absorb_hour_s"]["value"] for m in traced)
                u_abs = statistics.median(absorbs)
                line += (f"; absorb_hour_s {t_abs - u_abs:+.4g} "
                         f"(traced {t_abs:.4g}, untraced {u_abs:.4g})")
            print(line)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--parent", required=True, help="checkout root of the parent")
    c.add_argument("--change", required=True, help="checkout root of the change")
    c.add_argument("--workload", action="append", required=True)
    c.add_argument("--runs", type=int, default=10)
    c.add_argument("--seed0", type=int, default=1)
    c.add_argument("--seconds", type=int, default=20)
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    c.add_argument("--timeout", type=int, default=900)
    c.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("records", nargs="?", help="file written by collect")
    r.add_argument("--parent-file")
    r.add_argument("--change-file")
    r.add_argument("--benchmark", default=BENCHMARK)
    args = ap.parse_args(argv)
    if args.cmd == "report" and not args.records and not (
            args.parent_file and args.change_file):
        ap.error("report needs a collect file or --parent-file and --change-file")
    return collect(args) if args.cmd == "collect" else report(args)


if __name__ == "__main__":
    sys.exit(main())
