"""spark-submit entry point: point-in-time feature serving (as-of join).

    spark-submit --py-files sptag_spark.zip jobs/serve_asof.py \
        --features /data/features/data --probes /data/probes.parquet \
        --out /data/served [--strategy union|broadcast|salted]

Joins a probe frame (doc_id, asof_ts) against the feature table, returning
per probe the latest feature row with ts <= asof_ts (zero temporal
leakage — reference P3 version predicate, ExtraDynamicSearcher.h:680).
Emits one JSON metrics line (sequences/sec) on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--features", required=True)
    ap.add_argument("--probes", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--strategy", default="union",
                    choices=["union", "broadcast", "salted"])
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from sptag_spark.pipeline import serve_asof

    spark = SparkSession.builder.appName("serve_asof").getOrCreate()
    t0 = time.time()
    features = spark.read.parquet(args.features)
    probes = spark.read.parquet(args.probes)
    out = serve_asof(features, probes, strategy=args.strategy)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    elapsed = time.time() - t0
    print(json.dumps({
        "job": "serve_asof",
        "strategy": args.strategy,
        "elapsed_sec": round(elapsed, 3),
        "probes_served": n,
        "probes_per_sec": round(n / elapsed, 1),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
