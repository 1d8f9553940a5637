"""Steadiness check: two sets of runs of the same code, each metric's
spread against the benchmark's bounds.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 2]

For every workload in BENCHMARK.json (or the ones named), runs
``perfbench/run.py`` ``--runs`` times per set with a different seed each
time (set k uses seeds k*runs+1 .. k*runs+runs; the held-out seed is
never used), then prints per end-to-end metric: the median, the spread
(third minus first quartile over the median, as
``statistics.quantiles(values, n=4)`` gives them), the spread as a share
of the metric's bound, and how much worse the second set's median is
than the first's. Medians, not minima: the host stalls for seconds at
random, and a benchmark of record must absorb that, not hide it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELD_OUT_SEED = 1_000_003   # reserved for checking claims; never tuned on


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    t = time.time()
    proc = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t
    return res


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """Share by which ``second`` is worse than ``first`` (negative when
    better)."""
    if not first:
        return 0.0
    d = (second - first) / first
    return d if better == "lower" else -d


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = args.workloads.split(",")
    ok = True
    report = {}
    for wl in names:
        sets = []
        for k in range(args.sets):
            seeds = [s for s in range(k * args.runs + 1,
                                      k * args.runs + args.runs + 1)
                     if s != HELD_OUT_SEED]
            runs = [run_once(bench["command"], wl, s, bench["run_seconds"])
                    for s in seeds]
            sets.append(runs)
            walls = [r["wall_s"] for r in runs]
            print(f"{wl} set {k}: wall per run median {statistics.median(walls):.1f}s"
                  f" max {max(walls):.1f}s, correct "
                  f"{sum(r['correct'] for r in runs)}/{len(runs)}", flush=True)
            ok &= all(r["correct"] for r in runs)
        report[wl] = sets
        print(f"{'metric':20s} {'median':>12s} {'spread':>8s} {'/bound':>7s}"
              f" {'2nd worse':>9s}")
        for m in bench["end_to_end"]:
            vals = [[r["metrics"][m["name"]]["value"] for r in runs]
                    for runs in sets]
            sp = [spread(v) for v in vals]
            meds = [statistics.median(v) for v in vals]
            drift = worse_by(meds[0], meds[-1], m["better"])
            steady = max(sp) <= m["bound"]
            ok &= steady and drift <= m["bound"]
            print(f"{m['name']:20s} {meds[0]:12.4g} {max(sp):8.3f}"
                  f" {max(sp) / m['bound']:7.2f} {drift:9.3f}"
                  f"{'' if steady and drift <= m['bound'] else '  OVER'}")
    out = os.path.join(ROOT, ".perfbench", "steady",
                       f"{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh)
    print(f"{'PASS' if ok else 'FAIL'} (runs in {out})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
