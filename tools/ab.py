#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two revisions.

    python tools/ab.py BASE [NEW] [--workload fs_pread_mixed] [--pairs 5]

BASE and NEW are git revisions, or directories to run in place; NEW
defaults to ``.``, the working tree as it stands. Each revision is
exported with ``git archive`` into ``--workdir`` (a fresh temporary
directory by default), so a run leaves no worktree record in ``.git``
and nothing to prune after a killed run. Every pair runs
``perfbench/run.py --trace 0`` once in each checkout, each in its own
process, for BENCHMARK.json's ``run_seconds`` and with one seed for
both sides (1, 3, 5, ... from pair to pair); the order alternates
(A B, B A, ...), so neither side always runs on a warmer host. The
exported checkouts are removed at the end.

Per workload it prints, for each end-to-end metric of BENCHMARK.json:
the median and the best run of each side (the min of a lower-is-better
metric, the max of the others), the spread of BASE's runs
(interquartile range over median), the median of the per-pair relative
changes, how many pairs NEW won, and ``OVER`` where NEW's median is
worse than BASE's by more than the metric's bound. Then the failed and attempted
op counts of each side.

Before each run it times a fixed single-threaded Python loop for about
a second (``host_rate``; the host-speed probe of perfbench/README.md
"Steadiness"). It prints each side's median loop rate and every pair's
two rates, marking ``HOST`` a pair whose rates differ by more than the
tightest end-to-end bound: that pair ran on a host whose speed moved
under it. The raw records go to ``<workdir>/ab-<workload>.json``, each
with its rate and, as ``context``, the run's context line (counts over
a fixed op window, where the workload takes them there), so the counts
of one seed can be compared between the sides.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(rev: str, dest: str) -> str:
    """The directory to run ``rev`` in: the directory itself, or an
    export of the git revision at ``dest``."""
    if os.path.isdir(rev):
        return os.path.abspath(rev)
    blob = subprocess.run(["git", "-C", ROOT, "archive", rev],
                          check=True, capture_output=True).stdout
    os.makedirs(dest)
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest)
    return dest


def host_rate(seconds: float = 1.0) -> float:
    """Iterations per second of a fixed single-threaded Python loop,
    timed for about ``seconds``."""
    n, t0 = 0, time.perf_counter()
    while (t := time.perf_counter() - t0) < seconds:
        sum(i * i for i in range(30_000))
        n += 1
    return n / t


def run_once(where: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` process, after a ``host_rate`` probe;
    its last stdout line with the line before it as ``context``, or a
    record with ``error`` when it printed none. Either way the record
    carries the probe's ``host_rate``."""
    rate = host_rate()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=where, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
        out["metrics"] = {k: v["value"] for k, v in out["metrics"].items()}
        out["context"] = json.loads(lines[-2])
    except (IndexError, ValueError, KeyError, TypeError):
        out = {"error": (proc.stderr or proc.stdout)[-2000:],
               "returncode": proc.returncode}
    out["host_rate"] = rate
    return out


def quartile_spread(xs: list) -> float:
    """Interquartile range over median (0 for fewer than 2 runs)."""
    if len(xs) < 2 or not statistics.median(xs):
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return (q3 - q1) / abs(statistics.median(xs))


def report(workload: str, pairs: list, spec: list) -> None:
    ok = [(a, b) for a, b in pairs if "error" not in a and "error" not in b]
    print(f"\n== {workload}: {len(ok)} of {len(pairs)} pairs complete")
    print(f"{'metric':26} {'base':>11} {'new':>11} {'base_best':>11} "
          f"{'new_best':>11} {'base_iqr':>8} {'pair_d':>8} {'won':>5}")
    for m in spec:
        name, better, bound = m["name"], m["better"], m["bound"]
        a = [p[0]["metrics"][name] for p in ok]
        b = [p[1]["metrics"][name] for p in ok]
        if not a:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        best = min if better == "lower" else max
        rel = [(y - x) / x if x else 0.0 for x, y in zip(a, b)]
        won = sum((y < x) if better == "lower" else (y > x)
                  for x, y in zip(a, b))
        change = (mb - ma) / ma if ma else 0.0
        worse = change if better == "lower" else -change
        flag = "  OVER" if worse > bound else ""
        print(f"{name:26} {ma:11.4g} {mb:11.4g} {best(a):11.4g} "
              f"{best(b):11.4g} {quartile_spread(a):8.3f} "
              f"{statistics.median(rel):+8.3f} {won:>2}/{len(ok)}{flag}")
    bound = min(m["bound"] for m in spec)
    print(f"host loop/s median: base "
          f"{statistics.median(p[0]['host_rate'] for p in pairs):.0f}, "
          f"new {statistics.median(p[1]['host_rate'] for p in pairs):.0f}")
    for i, (a, b) in enumerate(pairs):
        x, y = a["host_rate"], b["host_rate"]
        mark = "  HOST" if abs(x - y) > bound * max(x, y) else ""
        print(f"  pair {i + 1}: base {x:.0f}/s, new {y:.0f}/s{mark}")
    for side, i in (("base", 0), ("new", 1)):
        runs = [p[i] for p in pairs]
        print(f"{side}: failed {sum(r.get('failed', 0) for r in runs)} of "
              f"{sum(r.get('attempted', 0) for r in runs)} ops, "
              f"{sum('error' in r for r in runs)} runs without a result")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new", nargs="?", default=".")
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--workdir", default=None)
    args = ap.parse_args(argv)
    if args.pairs < 3:
        ap.error("--pairs must be at least 3")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    seeds = [2 * i + 1 for i in range(args.pairs)]
    work = args.workdir or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(work, exist_ok=True)
    base = checkout(args.base, os.path.join(work, "base"))
    new = checkout(args.new, os.path.join(work, "new"))
    try:
        for wl in workloads:
            pairs = []
            for i in range(args.pairs):
                seed = seeds[i]
                order = [(0, base), (1, new)]
                if i % 2:
                    order.reverse()
                got = [None, None]
                for side, where in order:
                    got[side] = run_once(where, wl, seed, seconds)
                pairs.append(tuple(got))
                print(f"{wl} pair {i + 1}/{args.pairs} seed {seed} done",
                      file=sys.stderr, flush=True)
            with open(os.path.join(work, f"ab-{wl}.json"), "w") as f:
                json.dump({"base": args.base, "new": args.new,
                           "seeds": seeds, "pairs": pairs}, f, indent=1)
            report(wl, pairs, bench["end_to_end"])
    finally:
        for d in (base, new):
            if d.startswith(os.path.abspath(work) + os.sep):
                shutil.rmtree(d, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
