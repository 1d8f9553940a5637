"""Property-based tests (hypothesis): random inputs, cross-strategy and
cross-engine agreement — the role the reference's randomized PerfTest /
IterativeScanTest play (iterative == batch on random data)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sptag_spark.operators.asof import asof_join
from sptag_spark.operators.sessionize import sessionize

BASE_TS = dt.datetime(2025, 1, 1)


def _mk_events(offsets_by_key):
    rows = []
    eid = 0
    for key, offsets in offsets_by_key.items():
        for off in offsets:
            rows.append((eid, key, BASE_TS + dt.timedelta(seconds=off),
                         float(eid % 7)))
            eid += 1
    return rows


key_events = st.dictionaries(
    st.integers(0, 3),
    st.lists(st.integers(0, 10_000), min_size=1, max_size=12),
    min_size=1, max_size=4,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(probe_map=key_events, data_map=key_events)
def test_asof_strategies_agree_and_match_pandas(spark, probe_map, data_map):
    probe_rows = _mk_events(probe_map)
    data_rows = _mk_events(data_map)
    probe = spark.createDataFrame(probe_rows, ["event_id", "k", "ts", "v"]) \
        .drop("v")
    data = spark.createDataFrame(data_rows, ["event_id", "k", "ts", "v"]) \
        .withColumnRenamed("event_id", "d_id")

    outs = {}
    # target_rows_per_key=4 makes the salted plan chunk most keys
    for strat, kw in (("union", {}), ("broadcast", {}),
                      ("salted", {"target_rows_per_key": 4})):
        got = asof_join(probe, data, on="k", probe_ts="ts", data_ts="ts",
                        payload=["v"], strategy=strat, **kw).toPandas()
        outs[strat] = got.sort_values(["event_id"]).reset_index(drop=True)

    # pandas oracle (ties: merge_asof takes the LAST of equal ts, matching
    # our 'latest row <= asof_ts' with data sorted by ts)
    pp = pd.DataFrame(probe_rows, columns=["event_id", "k", "ts", "v"]) \
        .drop(columns="v").sort_values("ts", kind="mergesort")
    dd = pd.DataFrame(data_rows, columns=["d_id", "k", "ts", "v"]) \
        .sort_values("ts", kind="mergesort")
    want = pd.merge_asof(pp, dd[["k", "ts", "v"]], on="ts", by="k") \
        .sort_values("event_id").reset_index(drop=True)

    for strat, got in outs.items():
        assert len(got) == len(want), strat
        for c in ("event_id", "v"):
            g = got[c].fillna(-1).tolist()
            w = want[c].fillna(-1).tolist()
            assert g == w, f"{strat}: column {c}"


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data_map=key_events, gap=st.integers(1, 5_000))
def test_sessionize_properties(spark, data_map, gap):
    rows = _mk_events(data_map)
    df = spark.createDataFrame(rows, ["event_id", "k", "ts", "v"])
    out = sessionize(df.select("event_id", "k", "ts"), keys=["k"],
                     ts="ts", gap_seconds=gap).toPandas()
    for k, grp in out.groupby("k"):
        grp = grp.sort_values("ts", kind="mergesort")
        sid = grp["session_id"].tolist()
        ts = grp["ts"].tolist()
        assert sid[0] == 0
        for i in range(1, len(sid)):
            delta = (ts[i] - ts[i - 1]).total_seconds()
            if delta > gap:
                assert sid[i] == sid[i - 1] + 1, "gap must open a session"
            else:
                assert sid[i] == sid[i - 1], "within-gap must continue"


unique_key_events = st.dictionaries(
    st.integers(0, 3),
    st.lists(st.integers(0, 10_000), min_size=1, max_size=12, unique=True),
    min_size=1, max_size=4,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(probe_map=key_events, data_map=unique_key_events,
       target=st.integers(2, 30))
def test_salted_asof_equals_union_on_random_data(spark, probe_map, data_map,
                                                 target):
    """Random inputs + random hot-key thresholds (and so derived chunk
    counts): the salted strategy must be row-identical to the plain union
    plan. Data offsets are unique per key so no (key, ts) tie can make
    either engine's pick ambiguous."""
    probe_rows = _mk_events(probe_map)
    data_rows = _mk_events(data_map)
    probe = spark.createDataFrame(probe_rows, ["event_id", "k", "ts", "v"]) \
        .drop("v")
    data = spark.createDataFrame(data_rows, ["event_id", "k", "ts", "v"]) \
        .withColumnRenamed("event_id", "d_id")
    kw = dict(on="k", probe_ts="ts", data_ts="ts", payload=["v"])
    base = asof_join(probe, data, strategy="union", **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    salt = asof_join(probe, data, strategy="salted",
                     target_rows_per_key=target, **kw).toPandas() \
        .sort_values("event_id").reset_index(drop=True)
    assert base.equals(salt)
