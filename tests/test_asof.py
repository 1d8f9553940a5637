"""As-of join: every strategy vs the DuckDB ASOF JOIN oracle (plain,
strict, tolerance, NULL keys), plus zero-temporal-leakage invariants
(reference analog: version predicate ExtraDynamicSearcher.h:680; leakage
probe per FIXTURES.md T5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sptag_spark.operators.asof import asof_join
from tests.util import assert_df_equal

STRATEGIES = ["union", "broadcast", "salted"]


def _kw(strategy):
    """Force real chunking for the salted strategy on the small fixture
    (sf0.001 users hold up to 32 click+purchase rows)."""
    extra = {"target_rows_per_key": 8} if strategy == "salted" else {}
    return dict(strategy=strategy, **extra)


def _probe_data(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probe = ev.filter("event_type='purchase'").select("event_id", "user_id", "ts")
    data = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"),
    )
    return probe, data


ORACLE = """
SELECT p.event_id, p.user_id, p.ts, c.ts AS matched_ts,
       c.value AS click_value, c.event_id AS click_event_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type='click') c
ON p.user_id = c.user_id AND p.ts {op} c.ts
"""


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_inclusive_matches_duckdb(spark, ddb, strategy):
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    **_kw(strategy))
    assert_df_equal(got, ddb.sql(ORACLE.format(op=">=")).df())


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_strict_matches_duckdb(spark, ddb, strategy):
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    strict=True, **_kw(strategy))
    assert_df_equal(got, ddb.sql(ORACLE.format(op=">")).df())


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_asof_zero_leakage(spark, strategy):
    """Planting a data row at asof_ts + 1us must not change any result
    (FIXTURES.md T5 leakage probe)."""
    probe, data = _probe_data(spark)
    base = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                     **_kw(strategy)).toPandas()
    # Plant a poison row 1us after each user's LAST probe: invisible to
    # every probe of that user iff the operator never reads the future.
    leak = probe.groupBy("user_id").agg(
        (F.max("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("ts"),
        F.lit(9.99e9).alias("click_value"),
        F.lit(-1).cast("long").alias("click_event_id"),
    )
    poisoned = data.unionByName(leak)
    got = asof_join(probe, poisoned, on="user_id", probe_ts="ts", data_ts="ts",
                    **_kw(strategy)).toPandas()
    assert not (got["click_value"] > 9e9).any(), "future row leaked into result"
    matched = got["matched_ts"].notna()
    assert (got.loc[matched, "matched_ts"] <= got.loc[matched, "ts"]).all(), (
        "matched_ts after probe ts — temporal leakage"
    )
    from tests.util import normalize
    import pandas as pd
    pd.testing.assert_frame_equal(normalize(base), normalize(got))


def test_asof_strategies_agree_on_ties(spark):
    """Exact-timestamp ties: inclusive picks the tied row in every strategy."""
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("b", 5, 50.0)]
    data = spark.createDataFrame(rows, "k string, t long, v double").select(
        "k", F.timestamp_seconds("t").alias("ts"), "v")
    probe = spark.createDataFrame(
        [("a", 2), ("a", 1), ("a", 0), ("b", 9), ("c", 9)], "k string, t long"
    ).select("k", F.timestamp_seconds("t").alias("ts"))
    results = []
    for s in STRATEGIES:
        r = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                      **_kw(s)).toPandas()
        r = r.sort_values(["k", "ts"]).reset_index(drop=True)
        results.append(r)
    assert list(results[0]["v"].fillna(-1)) == [-1.0, 10.0, 20.0, 50.0, -1.0]
    for other in results[1:]:
        assert list(results[0]["v"].fillna(-1)) == list(other["v"].fillna(-1))


def test_asof_union_plan_has_single_shuffle(spark):
    """Scale guard: the union strategy must plan exactly one Exchange."""
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    strategy="union")
    from tests.util import count_exchanges

    assert count_exchanges(got) <= 1


def test_broadcast_keeps_duplicate_probe_rows(spark):
    """Two identical probe rows must each produce an output row (the
    broadcast top-1 window partitions on a per-row uid, not the probe's
    columns)."""
    import datetime as dt

    from sptag_spark.operators.asof import asof_join

    t0 = dt.datetime(2025, 1, 1)
    probe = spark.createDataFrame(
        [(1, t0), (1, t0)], ["k", "ts"])  # exact duplicates
    data = spark.createDataFrame(
        [(1, t0 - dt.timedelta(seconds=5), 42.0)], ["k", "ts", "v"])
    for strat in STRATEGIES:
        out = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                        payload=["v"], **_kw(strat)).collect()
        assert len(out) == 2, strat
        assert all(r["v"] == 42.0 for r in out), strat


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_tolerance_zero_means_exact_match_only(spark, strategy):
    """tolerance_seconds=0 is a real bound (exact-timestamp matches only),
    not 'no tolerance' — regression for the truthiness bug."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    probe = spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(seconds=10))], ["k", "ts"])
    data = spark.createDataFrame(
        [(1, t0, 1.0), (2, t0, 2.0)], ["k", "ts", "v"])
    out = {r["k"]: r for r in asof_join(
        probe, data, on="k", probe_ts="ts", data_ts="ts", payload=["v"],
        tolerance_seconds=0, **_kw(strategy)).collect()}
    assert out[1]["v"] == 1.0          # exact-ts match survives tol=0
    assert out[2]["v"] is None         # 10s-stale match rejected
    assert out[2]["matched_ts"] is None


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("strategy", [*STRATEGIES, "auto"])
def test_tolerance_numeric_epoch_timestamps(spark, strategy, strict):
    """Numeric (epoch-seconds) ts columns take the tolerance in their own
    units, strict or not, and an empty data side yields all-null matches."""
    probe = spark.createDataFrame(
        [(1, 100.0), (2, 250.0)], ["k", "ts"])
    data = spark.createDataFrame(
        [(1, 90.0, 7.0), (1, 100.0, 8.0), (2, 200.0, 9.0)], ["k", "ts", "v"])
    out = {r["k"]: r for r in asof_join(
        probe, data, on="k", probe_ts="ts", data_ts="ts", payload=["v"],
        strict=strict, tolerance_seconds=30, **_kw(strategy)).collect()}
    want = (7.0, 90.0) if strict else (8.0, 100.0)
    assert (out[1]["v"], out[1]["matched_ts"]) == want
    assert out[2]["v"] is None and out[2]["matched_ts"] is None  # 50 > 30
    empty = data.filter("k < 0")
    out2 = asof_join(probe, empty, on="k", probe_ts="ts", data_ts="ts",
                     payload=["v"], tolerance_seconds=30,
                     **_kw(strategy)).collect()
    assert len(out2) == 2 and all(r["v"] is None for r in out2)


# The match is the latest row <= ts, so "within tolerance" is a null-out
# of too-stale matches (the contract's asof_join_tolerance_1h oracle).
TOL_ORACLE = """
WITH m AS ({asof})
SELECT event_id, user_id, ts,
  CASE WHEN matched_ts >= ts - INTERVAL 1 HOUR THEN matched_ts END AS matched_ts,
  CASE WHEN matched_ts >= ts - INTERVAL 1 HOUR THEN click_value END AS click_value,
  CASE WHEN matched_ts >= ts - INTERVAL 1 HOUR THEN click_event_id END
    AS click_event_id
FROM m
"""


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("strategy", [*STRATEGIES, "auto"])
def test_tolerance_1h_matches_duckdb(spark, ddb, strategy, strict):
    probe, data = _probe_data(spark)
    got = asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                    strict=strict, tolerance_seconds=3600, **_kw(strategy))
    want = ddb.sql(TOL_ORACLE.format(
        asof=ORACLE.format(op=">" if strict else ">="))).df()
    assert want["matched_ts"].notna().any()   # some matches survive 1h
    assert (want["matched_ts"].isna().sum()
            > ddb.sql(ORACLE.format(op=">=")).df()["matched_ts"].isna().sum())
    assert_df_equal(got, want)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_null_keys_never_match_duckdb(spark, ddb, strategy):
    """NULL join keys are null-intolerant on both sides: a NULL-key probe
    gets no match and a NULL-key data row matches nothing, as in DuckDB's
    ASOF LEFT JOIN. Every key holds more than the salted plan's target of
    8 rows, so its chunked path runs too."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2025, 1, 1)
    keys = [None, 1, 2]
    probe_rows = [(i, keys[i % 3], t0 + dt.timedelta(minutes=i))
                  for i in range(120)]
    data_rows = [(keys[j % 3], t0 + dt.timedelta(minutes=2 * j, seconds=-30),
                  float(j)) for j in range(60)]
    probe = spark.createDataFrame(probe_rows, "qid long, k long, ts timestamp")
    data = spark.createDataFrame(data_rows, "k long, ts timestamp, v double")
    got = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                    payload=["v"], **_kw(strategy))
    ddb.register("null_p", pd.DataFrame(probe_rows, columns=["qid", "k", "ts"])
                 .astype({"k": "Int64"}))
    ddb.register("null_d", pd.DataFrame(data_rows, columns=["k", "ts", "v"])
                 .astype({"k": "Int64"}))
    want = ddb.sql("""
        SELECT p.qid, p.k, p.ts, d.ts AS matched_ts, d.v
        FROM null_p p ASOF LEFT JOIN null_d d
        ON p.k = d.k AND p.ts >= d.ts""").df()
    assert want.loc[want["k"].isna(), "v"].isna().all()
    assert_df_equal(got, want)


def test_auto_reads_parsed_broadcast_threshold(spark):
    """auto compares the probe size with Spark's parsed
    autoBroadcastJoinThreshold: under "1KB" an sf0.001 purchase probe is
    too big, so auto plans the union route (no join at all)."""
    probe, data = _probe_data(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1KB")
    try:
        got = asof_join(probe, data, on="user_id", probe_ts="ts",
                        data_ts="ts", strategy="auto")
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "Join" not in plan and "Union" in plan, plan


def test_unknown_strategy_raises(spark):
    probe, data = _probe_data(spark)
    with pytest.raises(ValueError, match="unknown asof strategy"):
        asof_join(probe, data, on="user_id", probe_ts="ts", data_ts="ts",
                  strategy="merge")


def _hot_key_frames(spark):
    """sf0.001 events with 20% of users collapsed onto one hot key, data
    side deduped per (key, ts) so tie-breaks can't differ by strategy."""
    from pyspark.sql import Window

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("user_id",
                    F.when(F.col("user_id") % 5 == 0, F.lit(0).cast("bigint"))
                    .otherwise(F.col("user_id")))
    probe = ev.filter("event_type='purchase'").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"),
        F.col("event_id").alias("click_event_id"))
    w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("click_event_id").desc())
    clicks = clicks.withColumn("_rn", F.row_number().over(w)) \
        .filter("_rn = 1").drop("_rn")
    return probe, clicks


@pytest.mark.parametrize("strict", [False, True])
def test_salted_equals_union_on_hot_keys(spark, strict):
    """The salted strategy must be result-identical to the plain union
    plan — chunking + carry-forward is a physical rewrite only."""
    probe, clicks = _hot_key_frames(spark)
    kw = dict(on="user_id", probe_ts="ts", data_ts="ts", strict=strict)
    base = asof_join(probe, clicks, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salt = asof_join(probe, clicks, strategy="salted",
                     target_rows_per_key=50, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    assert base.equals(salt)


def test_salted_with_map_payload_column(spark):
    """ADVICE r3 #5: MapType has no hash function in Spark — when the
    sampled stats pass engages (target_rows_per_key >= 128) it must
    exclude unhashable payload columns from the sampling hash instead
    of failing analysis, and stay result-identical to the union plan."""
    probe, clicks = _hot_key_frames(spark)
    clicks = clicks.withColumn(
        "attrs", F.create_map(F.lit("v"), F.col("click_value")))
    kw = dict(on="user_id", probe_ts="ts", data_ts="ts")
    base = asof_join(probe, clicks, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salt = asof_join(probe, clicks, strategy="salted",
                     target_rows_per_key=128, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    assert base.equals(salt)


def test_salted_no_hot_keys_falls_back(spark):
    """With the production target nothing at sf0.001 is hot; the salted
    path must degrade to the plain single-shuffle union plan."""
    probe, clicks = _probe_data(spark)
    out = asof_join(probe, clicks, on="user_id", probe_ts="ts",
                    data_ts="ts", strategy="salted")
    from tests.util import count_exchanges
    assert count_exchanges(out) <= 1
    assert "__asof_chunk" not in out.schema.simpleString()


def test_salted_carry_across_empty_chunks(spark):
    """A probe in a chunk with NO data rows must inherit the newest
    payload from earlier chunks (the carry frame), including across
    several empty chunks."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    # hot key 0: one early data row, probes spread over a long timeline
    probes = [(i, 0, t0 + dt.timedelta(hours=i)) for i in range(300)]
    data = [(0, t0 - dt.timedelta(seconds=1), 42.0),
            (0, t0 + dt.timedelta(hours=150), 43.0)]
    probe = spark.createDataFrame(probes, ["event_id", "k", "ts"])
    d = spark.createDataFrame(data, ["k", "ts", "v"])
    out = asof_join(probe, d, on="k", probe_ts="ts", data_ts="ts",
                    payload=["v"], strategy="salted",
                    target_rows_per_key=50).collect()
    assert len(out) == 300
    for r in out:
        want = 43.0 if r["ts"] >= t0 + dt.timedelta(hours=150) else 42.0
        assert r["v"] == want, (r["event_id"], r["v"])


def test_null_ts_data_rows_never_match(spark):
    """A data row with NULL ts can never qualify (ts <= asof_ts is never
    true for NULL) — consistent across every strategy, including the
    salted carry path."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    probe = spark.createDataFrame(
        [(i, 0, t0 + dt.timedelta(hours=i)) for i in range(120)],
        ["event_id", "k", "ts"])
    data = spark.createDataFrame(
        [(0, None, 666.0), (0, t0 - dt.timedelta(seconds=1), 1.0)],
        "k long, ts timestamp, v double")
    for strat in STRATEGIES:
        out = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                        payload=["v"], **(
                            dict(strategy=strat, target_rows_per_key=50)
                            if strat == "salted"
                            else dict(strategy=strat))).collect()
        assert all(r["v"] == 1.0 for r in out), strat
        assert all(r["matched_ts"] is not None for r in out), strat


def test_salted_sampled_stats_path_equals_union(spark):
    """target_rows_per_key=4096 engages the SAMPLED stats pass
    (sample_mod=64, VERDICT r2 #3): the hot key must still be detected
    and chunked, and results must stay identical to the plain union plan
    (boundaries affect load balance only)."""
    import datetime as dt

    t0 = dt.datetime(2025, 1, 1)
    # one key with 12k rows (hot at target 4096), 40 cold keys w/ 100
    probes = [(i, 0, t0 + dt.timedelta(seconds=i)) for i in range(8000)]
    probes += [(100_000 + k * 1000 + i, k, t0 + dt.timedelta(seconds=i))
               for k in range(1, 41) for i in range(50)]
    data = [(0, t0 + dt.timedelta(seconds=4 * i), float(i))
            for i in range(4000)]
    data += [(k, t0 + dt.timedelta(seconds=10 * i), float(k * 100 + i))
             for k in range(1, 41) for i in range(50)]
    probe = spark.createDataFrame(probes, ["event_id", "k", "ts"])
    d = spark.createDataFrame(data, ["k", "ts", "v"])
    kw = dict(on="k", probe_ts="ts", data_ts="ts", payload=["v"])
    base = asof_join(probe, d, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salted = asof_join(probe, d, strategy="salted",
                       target_rows_per_key=4096, **kw)
    got = salted.toPandas().sort_values("event_id").reset_index(drop=True)
    assert base.equals(got)
    # the sampled detector must flag exactly the hot key, never the
    # 100-row cold keys, and give it n_chunks - 1 boundaries with
    # n_chunks = ceil(sampled rows * sample_mod / target), clamped to
    # [2, shuffle partitions]
    import math

    from pyspark.sql import functions as F

    from sptag_spark.operators.asof import (
        _hot_bounds, _hot_sample, _tagged_union, _ts_ordinal, _TS,
    )
    from sptag_spark.session import shuffle_parts
    unioned = _tagged_union(probe, d, ["k"], "ts", "ts", ["v"])
    rows, _ = _hot_bounds(
        unioned, ["k"], _ts_ordinal(F.col(_TS), probe.schema["ts"].dataType),
        4096)
    assert [r["k"] for r in rows] == [0]
    sampled = _hot_sample(unioned, 64).filter("k = 0").count()
    n_chunks = max(2, min(math.ceil(sampled * 64 / 4096), shuffle_parts(spark)))
    assert 2 < n_chunks < 8       # ~12k rows at a 4096 target
    assert len(rows[0]["__asof_bounds"]) == n_chunks - 1
