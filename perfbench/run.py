"""Benchmark of record for the point-in-time feature engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload on local[4] from one driver process and one client and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines above
it are a human-readable report. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from workloads import CORES, WORKLOADS  # noqa: E402

SETUPS = 3
# Untimed operations before measuring: the JVM keeps compiling hot paths
# for the first ~10 operations (bucket commits 1.7 s -> 1.2 s, lookups
# 0.57 s -> 0.40 s), and a run's median must not depend on how many of
# those cold operations fit in it.
WARM_SECONDS = 5
E2E = {"setup_s": "s", "ok_rate": "ratio", "peak_rss_mb": "MB",
       "throughput_per_s": "1/s", "op_p50_ms": "ms"}
LAYERS = {
    "tokens.self_s": "s", "tokens.tokens_per_s": "1/s",
    "windows.self_s": "s", "windows.exchanges": "count",
    "windows.shuffle_write_bytes": "bytes",
    "manifest.self_s": "s", "manifest.bucket_p50_s": "s",
    "manifest.digest_s": "s", "manifest.scan_amplification": "ratio",
    "manifest.resume_skipped_buckets": "count",
    "asof.self_s": "s", "asof.shuffle_write_bytes": "bytes",
    "asof.task_skew": "ratio", "asof.rows_scanned_per_probe": "count",
    "asof.jobs_per_request": "count",
    "snapshots.append_s": "s", "snapshots.files_per_read": "count",
    "knn.probe_s": "s", "knn.append_s": "s", "knn.split_s": "s",
    "knn.buckets_read_per_query": "count",
    "knn.candidates_per_result": "count",
    "jvm.gc_s": "s", "tasks.count": "count", "trace.overhead_ratio": "ratio",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(wl, seed: int, seconds: float, trace: bool):
    inp = wl.inputs(seed)
    t = time.time()
    harness.start_session(CORES)
    jvm_start = time.time() - t
    setups = []
    t_setups = time.time()
    for _ in range(SETUPS):
        harness.stop_session()
        t = time.time()
        spark = harness.start_session(CORES)
        state = wl.setup(spark, inp)
        setups.append(time.time() - t)
    off = harness.Tracer(False)
    t_run = time.time()
    wl.prepare(spark, inp, seed, state)
    warm = wl.warm(spark, inp, state, WARM_SECONDS, off)
    # peak memory of the session that serves the measured operations
    # (set-up restarts overlap old and new Python workers)
    with harness.RssSampler() as rss:
        if trace:
            # untraced and traced halves of one run: their throughput
            # ratio is the tracing overhead
            plain = wl.run(spark, inp, state, seconds / 2, off)
            tracer = harness.Tracer(True, harness.SparkMetrics(spark))
            out = wl.run(spark, inp, state, seconds / 2, tracer)
            out.layers["trace.overhead_ratio"] = (
                plain.e2e["throughput_per_s"] / out.e2e["throughput_per_s"])
            out.merge_checks(plain)
            tracer.write(os.path.join(harness.WORK, "traces",
                                      f"{wl.name}-s{seed}.jsonl"))
        else:
            out = wl.run(spark, inp, state, seconds, off)
    out.merge_checks(warm)
    out.e2e["setup_s"] = statistics.median(setups)
    out.e2e["peak_rss_mb"] = rss.peak_mb
    out.e2e["ok_rate"] = (out.attempted - out.failed) / max(out.attempted, 1)
    out.report["jvm_start_s"] = jvm_start
    out.report["setups_wall_s"] = t_run - t_setups
    for k, v in enumerate(setups):
        out.report[f"setup_{k}_s"] = v
    out.report["measure_wall_s"] = time.time() - t_run
    return out


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(harness.ROOT, "sptag_spark",
                                       "__init__.py")):
        print(f"perfbench: no engine sources (sptag_spark/) under "
              f"{harness.ROOT}", file=sys.stderr)
        return 2
    harness.prepare_environment()
    sys.path.insert(0, harness.ROOT)
    try:
        out = measure(WORKLOADS[args.workload], args.seed, args.seconds,
                      bool(args.trace))
    except Exception:  # noqa: BLE001 - report and fail without a result
        traceback.print_exc()
        return 1
    finally:
        harness.shutdown_jvm()
    for e in out.errors:
        print(f"FAILED CHECK: {e}", file=sys.stderr)
    names = LAYERS if args.trace else E2E
    values = out.layers if args.trace else out.e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
               for n, u in names.items()}
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    for n, m in metrics.items():
        print(f"{n:34s} {m['value']:>16.6g} {m['unit']}")
    for n, v in out.report.items():
        print(f"{n:34s} {v:>16.6g} (report)")
    print(json.dumps({"correct": out.failed == 0 and out.attempted > 0,
                      "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
