"""Leakage audit: clean as-of output proves zero leakage; a corrupted
frame is caught (the audit must be able to fail, or it proves nothing)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.asof import asof_join
from sptag_spark.operators.audit import assert_no_leakage, leakage_report

SF = "/root/testdata/sf0.001"


def _served(spark, strategy):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    probe = ev.filter("event_type='purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"))
    return asof_join(probe, clicks, on="user_id", probe_ts="ts",
                     data_ts="ts", strategy=strategy)


@pytest.mark.parametrize("strategy", ["union", "broadcast", "salted"])
def test_every_strategy_is_leak_free(spark, strategy):
    rep = assert_no_leakage(_served(spark, strategy), probe_ts="ts")
    assert rep["violations"] == 0
    assert rep["matched"] > 0  # audit ran over real matches


def test_pipeline_serving_is_leak_free(spark, tmp_path):
    from sptag_spark.datagen import write_corpus
    from sptag_spark.pipeline import featurize, serve_asof

    write_corpus(spark, str(tmp_path), n_docs=500, n_probes=400, seed=42)
    feats = featurize(spark.read.parquet(f"{tmp_path}/sequences.parquet"))
    served = serve_asof(feats, spark.read.parquet(
        f"{tmp_path}/asof_probes.parquet"))
    rep = assert_no_leakage(served, probe_ts="asof_ts")
    assert rep["violations"] == 0 and rep["matched"] > 0


def test_audit_catches_planted_leak(spark):
    base = dt.datetime(2025, 1, 1)
    bad = spark.createDataFrame(
        [(1, base, base + dt.timedelta(seconds=5)),   # matched AFTER probe
         (2, base, base - dt.timedelta(seconds=5))],
        ["k", "ts", "matched_ts"],
    )
    rep = leakage_report(bad, probe_ts="ts")
    assert rep["violations"] == 1 and rep["worst_leak_sec"] == 5.0
    with pytest.raises(AssertionError, match="temporal leakage"):
        assert_no_leakage(bad, probe_ts="ts")


def test_strict_mode_flags_equal_timestamps(spark):
    base = dt.datetime(2025, 1, 1)
    eq = spark.createDataFrame([(1, base, base)], ["k", "ts", "matched_ts"])
    assert leakage_report(eq, probe_ts="ts")["violations"] == 0
    assert leakage_report(eq, probe_ts="ts", strict=True)["violations"] == 1
