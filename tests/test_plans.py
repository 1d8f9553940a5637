"""Physical-plan audits: the judge-facing 100-TB questions, as tests.

For each operator family: is the filter pushed to the parquet scan, is
the small side broadcast, is the scan column-pruned, and is the shuffle
count what the algorithm needs (not one more)? These mirror SURVEY.md §4:
everything SPTAG hand-codes (pruning, pushdown, column pruning) must
appear in OUR plans via Catalyst, or we've regressed the design."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from tests.util import count_exchanges

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushdown_reaches_scan(events):
    df = events.filter("event_type = 'purchase'").select("event_id", "ts")
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in p


def test_column_pruning_reaches_scan(events):
    df = events.select("event_id", "user_id")
    p = plan_of(df)
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in p
    assert "value" not in p.split("ReadSchema")[1].splitlines()[0]


def test_asof_broadcast_strategy_builds_data_side_without_shuffle(events):
    """The hash-join plan keeps the probe side (LEFT OUTER), so Spark
    hash-builds the data side: BroadcastHashJoin LeftOuter, BuildRight,
    with no hash Exchange of the data scan before the join."""
    from sptag_spark.operators.asof import asof_join

    probe = events.filter("event_type='purchase'") \
        .select("event_id", "user_id", "ts").limit(50)
    clicks = events.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"))
    df = asof_join(probe, clicks, on="user_id", probe_ts="ts",
                   data_ts="ts", strategy="broadcast")
    p = plan_of(df)
    assert "BroadcastHashJoin LeftOuter BuildRight" in p, p
    pre_join = p.split("Join")[0]
    assert "Exchange hashpartitioning" not in pre_join


def test_asof_union_single_shuffle(events):
    from sptag_spark.operators.asof import asof_join

    probe = events.filter("event_type='purchase'") \
        .select("event_id", "user_id", "ts")
    clicks = events.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"))
    df = asof_join(probe, clicks, on="user_id", probe_ts="ts", data_ts="ts")
    assert count_exchanges(df) <= 1  # ONE shuffle for union+window asof


def test_knn_broadcasts_queries_and_prunes_columns(spark):
    from sptag_spark.operators.knn import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = brute_force_topk(emb, emb.filter("vec_id < 4"), k=5)
    p = plan_of(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # corpus scan reads only (vec_id, embedding) — label pruned
    scan_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "label" not in scan_schema
    # exactly one shuffle: the per-query top-k window
    assert count_exchanges(df) == 1


def test_exact_dedup_two_shuffles_max(docs):
    from sptag_spark.operators.dedup import exact_dedup

    # hash-agg + join-back: agg shuffle + join shuffles; AQE may broadcast
    # the canonical side at runtime — statically no more than 3 exchanges.
    assert count_exchanges(exact_dedup(docs)) <= 3


def test_grouped_topk_single_shuffle(events):
    from sptag_spark.operators.topk import top_k_per_group

    df = top_k_per_group(
        events.select("event_id", "user_id", "value"),
        keys=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id").asc()], k=3,
    )
    assert count_exchanges(df) == 1


def test_rollup_partial_aggregation(docs):
    df = docs.rollup("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    p = plan_of(df)
    # partial (map-side) + final hash aggregate around ONE shuffle
    assert p.count("HashAggregate") >= 2
    assert count_exchanges(df) == 1


def test_sessionize_single_shuffle(events):
    from sptag_spark.operators.sessionize import sessionize

    df = sessionize(events.select("event_id", "user_id", "ts"),
                    keys=["user_id"], ts="ts", gap_seconds=1800)
    assert count_exchanges(df) <= 1


def test_ivf_probe_scan_is_partition_pruned(spark, tmp_path):
    """The persisted-index probe must read ONLY the nprobe bucket
    partitions (reference posting-selection J2): the postings scan shows
    a PartitionFilters entry on bucket, and the fraction of files read
    is bounded by the probed-bucket fraction."""
    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_build(emb, n_centroids=16, path=path)
    out = ivf_probe(spark, path, emb.filter("vec_id < 2"), k=5, nprobe=2)
    import re

    p = plan_of(out)
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \(", p), p
    assert out.count() > 0


def test_bkt_probe_scan_is_partition_pruned(spark, tmp_path):
    """Multi-level BKT probes share the flat-IVF pruned tail: the
    postings scan must carry a PartitionFilters IN-list on bucket (the
    tree descent only changes WHICH buckets, never the scan shape)."""
    from sptag_spark.operators.bkt import bkt_build, bkt_probe

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "bkt")
    bkt_build(emb, path, branch=4, leaf_max=64, cell_iters=4)
    out = bkt_probe(spark, path, emb.filter("vec_id < 2"), k=5, nprobe=2)
    import re

    p = plan_of(out)
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \(", p), p
    assert out.count() > 0


def test_assign_buckets_has_no_shuffle_and_no_window(spark):
    """Bucket assignment is one Arrow-kernel scan: zero Exchange, zero
    Window (the round-1 argmin window shuffled 32x the corpus)."""
    from sptag_spark.operators.knn import assign_buckets, select_centroids
    from tests.util import count_exchanges

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = select_centroids(emb, 8)
    df = assign_buckets(emb, cent)
    assert count_exchanges(df) == 0
    assert "Window" not in plan_of(df)


def test_filtered_knn_pushes_predicate_below_scoring_join(spark):
    """Filtered ANN (reference SearchIndexWithFilter): the metadata
    predicate must reach the corpus parquet scan as a pushed filter,
    below the broadcast scoring join."""
    from sptag_spark.operators.knn import filtered_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = filtered_topk(emb, emb.filter("vec_id < 2"), "label = 1", k=5)
    p = plan_of(df)
    assert "EqualTo(label,1)" in p  # pushed into the scan
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_salted_asof_fans_hot_key_across_chunks(spark, events):
    """VERDICT r1 #1: no single post-shuffle partition may hold the whole
    hot key. The big window Exchange must hash on (key, chunk), and the
    hot key's rows must actually spread over several chunks."""
    import re

    from sptag_spark.operators.asof import (
        _chunk_expr, _hot_bounds, _tagged_union, _ts_ordinal, _TS,
        asof_join,
    )

    ev = events.withColumn(
        "user_id",
        F.when(F.col("user_id") % 5 == 0, F.lit(0).cast("bigint"))
        .otherwise(F.col("user_id")))
    probe = ev.filter("event_type='purchase'").select(
        "event_id", "user_id", "ts")
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"))
    out = asof_join(probe, clicks, on="user_id", probe_ts="ts",
                    data_ts="ts", strategy="salted",
                    target_rows_per_key=50)
    p = plan_of(out)
    assert re.search(r"hashpartitioning\([^)]*__asof_chunk", p), \
        "window exchange must include the chunk column"

    # runtime fan-out: the hot key's rows span several chunks and no
    # chunk owns a majority. Target 16 rows per key: the hot key's ~80
    # rows derive n_chunks = ceil(rows / 16), clamped to [2, partitions]
    import math

    from sptag_spark.session import shuffle_parts

    u = _tagged_union(probe, clicks, ["user_id"], "ts", "ts",
                      ["click_value"])
    ordc = _ts_ordinal(F.col(_TS), probe.schema["ts"].dataType)
    rows, schema = _hot_bounds(u, ["user_id"], ordc, 16)
    hot0 = [r for r in rows if r["user_id"] == 0]
    assert hot0, "hot key not detected"
    n_hot = u.filter("user_id = 0").count()
    n_chunks = max(2, min(math.ceil(n_hot / 16), shuffle_parts(spark)))
    assert len(hot0[0]["__asof_bounds"]) == n_chunks - 1
    hot = spark.createDataFrame(rows, schema)
    per_chunk = (
        u.join(F.broadcast(hot), "user_id")
        .withColumn("c", _chunk_expr(ordc))
        .filter("user_id = 0").groupBy("c")
        .count().collect())
    counts = [r["count"] for r in per_chunk]
    assert len(counts) >= 4, counts
    assert max(counts) <= 0.6 * sum(counts), counts


def test_ivf_probe_with_predicate_pushes_both_filters(spark, tmp_path):
    """Filtered ANN composed with the persisted index: ONE scan carries
    BOTH the bucket partition pruning and the metadata pushed filter."""
    import re

    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf_f")
    ivf_build(emb, n_centroids=8, path=path)
    out = ivf_probe(spark, path, emb.filter("vec_id < 2"), k=5, nprobe=2,
                    predicate="label = 1")
    p = plan_of(out)
    assert re.search(r"PartitionFilters: \[bucket#\d+ IN \(", p), p
    assert "EqualTo(label,1)" in p
    rows = out.collect()
    labels = {r["vec_id"]: r for r in
              emb.filter("label = 1").select("vec_id").collect()}
    assert all(r["vec_id"] in labels for r in rows)


def test_jaccard_plan_shapes(docs):
    """Default (blob-kernel) path: ONE parquet scan, the shingle kernel
    feeding the shared `_sh` exchange, pair-generation kernel, ONE
    narrow bucket exchange of packed partials, merge kernel — and never
    an ENSURE_REQUIREMENTS re-exchange on `_sh` (the r7 finding: joins
    require co-partitioning on ALL join keys, so anything but the exact
    key set re-exchanged 2.6M rows per side at bench scale).

    engine='expr' keeps the relational self-join: single scan with
    runtime ReusedExchange everywhere else, the ShuffledHashJoin
    consuming the `_sh` repartition directly."""
    import re

    from sptag_spark.operators.dedup import jaccard_pairs

    df = jaccard_pairs(docs, threshold=0.5)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert final.count("MapInArrow") == 3  # shingles, pair-gen, merge
    assert re.search(r"hashpartitioning\(_sh#\d+, \d+\), REPARTITION",
                     final), final
    assert re.search(r"hashpartitioning\(_b#\d+, \d+\), REPARTITION",
                     final), final
    assert not re.findall(
        r"hashpartitioning\(_sh#\d+[^)]*\), ENSURE_REQUIREMENTS", final)

    df2 = jaccard_pairs(docs, threshold=0.5, engine="expr")
    df2.collect()
    final2 = df2._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert final2.count("FileScan parquet") == 1
    assert "ReusedExchange" in final2
    assert "ShuffledHashJoin" in final2
    assert not re.findall(
        r"hashpartitioning\(_sh#\d+[^)]*\), ENSURE_REQUIREMENTS", final2)


def test_pack_global_has_no_corpus_wide_window(docs):
    """Blocked-cumsum packing: the only window over corpus rows is
    partitioned by _blk (every task sees one block); the cross-block
    offsets window runs over #blocks rows and is broadcast back."""
    from pyspark.sql import functions as F

    from sptag_spark.operators.corpus import pack_chunks_global

    sized = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long")
        .alias("n_tokens"),
    )
    df = pack_chunks_global(sized, capacity=64, block_width=50)
    plan = plan_of(df)
    # the per-row window partitions on the block column
    assert "windowspecdefinition(_blk" in plan
    # offsets come back via broadcast, not a corpus-wide shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_contamination_broadcasts_benchmark(docs):
    """The benchmark shingle set is the broadcast side; the corpus is
    never broadcast and feeds the join streamed."""
    from sptag_spark.operators.corpus import contamination_report

    df = contamination_report(
        docs.filter("doc_id % 10 <> 0"), docs.filter("doc_id % 10 = 0")
    )
    plan = plan_of(df)
    assert "BroadcastExchange" in plan


def test_contamination_kernel_runs_once(spark, docs):
    """The corpus shingle kernel must execute exactly once (a two-branch
    shape re-ran it: ReusedExchange inside one branch's subtree broke
    canonical equality of the parent exchanges)."""
    from sptag_spark.operators.corpus import contamination_report

    df = contamination_report(
        docs.filter("doc_id % 10 <> 0"), docs.filter("doc_id % 10 = 0")
    )
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    # one kernel for the corpus + one for the benchmark side
    assert final.count("MapInArrow") == 2


def test_probe_join_mode_uses_dynamic_partition_pruning(spark, tmp_path):
    """VERDICT r2 #2: large probe waves must not funnel through the
    driver. probe_mode='join' writes probes to a side table and the
    broadcast distinct-bucket semi-join drives DYNAMIC partition pruning
    of the postings scan — plan shows dynamicpruningexpression on
    bucket, and the result is bit-equal to the driver/static path."""
    from sptag_spark.operators.knn import ivf_build, ivf_probe

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ivf_build(emb, n_centroids=16, path=path)
    q = emb.filter("vec_id < 32")
    out = ivf_probe(spark, path, q, k=5, nprobe=3, probe_mode="join")
    p = plan_of(out)
    assert "dynamicpruningexpression" in p, p
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, ivf_probe(spark, path, q, k=5, nprobe=3,
                                    probe_mode="driver").collect()))
    assert a == b and len(a) == 160
