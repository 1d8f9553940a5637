"""Flagship feature-engineering pipeline over the tokenized corpus.

The Spark restatement of the reference's build+query lifecycle
(SPANNIndex.cpp:1043-1240 BuildIndexInternal -> SearchIndex):

  1. ingest  — read sequences(doc_id, tokens, n_tok, source, version, ts)
  2. featurize — per-row token features (Arrow kernel, zero per-row Python)
  3. window  — per-doc point-in-time features over versions (lag, rolling,
               backfill) sharing one shuffle
  4. serve   — as-of join of a probe frame (doc_id, asof_ts) returning the
               latest feature row <= asof_ts (zero leakage)

Each stage is a pure DataFrame -> DataFrame function so bench/tests can
time or verify them separately; run_pipeline composes them and reports
throughput (sequences/sec, tokens/sec) the way the reference's harness
reports QPS (SSDIndex.h:61-97).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sptag_spark.functions.tokens import with_arrow_token_features
from sptag_spark.operators.asof import asof_join
from sptag_spark.operators.windows import rolling_rows, with_lag_lead


FEATURE_COLS = [
    "n_tok", "source", "version", "tok_sum", "tok_mean", "tok_distinct",
    "tok_frac_small", "tok_fingerprint", "lag_n_tok_1", "lead_n_tok_1",
    "roll3r_sum_n_tok", "roll3r_avg_n_tok", "roll3r_count_n_tok",
]


def featurize(sequences: DataFrame) -> DataFrame:
    """Per-row token features + per-doc windowed features (one shuffle).

    Token arrays are dropped at the Arrow stage: every downstream consumer
    (windows, as-of serve) reads only the scalar features, and the raw
    arrays are the bulk of the bytes (IPC + shuffle + sort savings)."""
    feats = with_arrow_token_features(sequences, drop_tokens=True)
    feats = with_lag_lead(feats, ["doc_id"], ["ts", "version"], ["n_tok"], [1])
    feats = rolling_rows(
        feats, ["doc_id"], ["ts", "version"], "n_tok", 3,
        aggs=("sum", "avg", "count"), prefix="roll3r",
    )
    return feats


def serve_asof(features: DataFrame, probes: DataFrame,
               strategy: str = "union") -> DataFrame:
    """Point-in-time feature lookup: latest feature row per (doc_id,
    asof_ts). Drops the raw token arrays from the payload — the probe
    answer is the feature vector, not the data row."""
    payload = [c for c in FEATURE_COLS if c in features.columns]
    return asof_join(
        probes,
        features.select("doc_id", "ts", *payload),
        on="doc_id",
        probe_ts="asof_ts",
        data_ts="ts",
        payload=payload,
        strategy=strategy,
    )


def run_pipeline(
    spark: SparkSession,
    sequences_path: str,
    probes_path: str | None = None,
    out_path: str | None = None,
) -> dict:
    """End-to-end run; returns throughput metrics."""
    t0 = time.time()
    seqs = spark.read.parquet(sequences_path)
    feats = featurize(seqs)
    if probes_path:
        probes = spark.read.parquet(probes_path)
        result = serve_asof(feats, probes)
    else:
        result = feats
    if out_path:
        result.write.mode("overwrite").parquet(out_path)
        elapsed = time.time() - t0
        n_out = spark.read.parquet(out_path).count()  # footer-cheap
    else:
        # noop write, NOT count(): count() column-prunes the served
        # payload out of the plan (MapInArrow + every window feature
        # disappear) and would time a join skeleton that computes no
        # features (CLAUDE.md rule 11). The row count afterwards is
        # deliberately outside the timed section.
        result.write.format("noop").mode("overwrite").save()
        elapsed = time.time() - t0
        n_out = result.count()
    stats = seqs.agg(
        F.count(F.lit(1)).alias("n_seq"), F.sum("n_tok").alias("n_tok")
    ).collect()[0]
    return {
        "elapsed_sec": elapsed,
        "rows_out": n_out,
        "sequences": stats["n_seq"],
        "tokens": int(stats["n_tok"]),
        "sequences_per_sec": stats["n_seq"] / elapsed,
        "tokens_per_sec": int(stats["n_tok"]) / elapsed,
    }
