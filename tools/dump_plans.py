"""Regenerate PLANS.md: formatted physical plans of the flagship
operators with the properties each plan must exhibit. Run after plan-
shape changes; tests/test_plans.py asserts the same properties in CI.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def _ivf_probe_df(spark, emb):
    import tempfile

    from sptag_spark.operators.knn import ivf_build, ivf_probe

    path = os.path.join(tempfile.gettempdir(), "sptag_ivf_plansdoc")
    ivf_build(emb, n_centroids=16, path=path)
    return ivf_probe(spark, path, emb.filter("vec_id < 2"), k=5, nprobe=2)


def _ivf_pq_probe_df(spark, emb):
    import tempfile

    from sptag_spark.operators.ivfpq import ivf_pq_build, ivf_pq_probe

    path = os.path.join(tempfile.gettempdir(), "sptag_ivfpq_plansdoc")
    ivf_pq_build(emb, n_centroids=16, path=path, m=4, k_codes=16)
    return ivf_pq_probe(spark, path, emb.filter("vec_id < 2"),
                        k=5, nprobe=2, rerank=16)


def _jaccard(docs):
    from sptag_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(docs, threshold=0.5)


def _pack_global(docs):
    from pyspark.sql import functions as F

    from sptag_spark.operators.corpus import pack_chunks_global

    sized = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), "\\s+")).cast("long")
        .alias("n_tokens"),
    )
    return pack_chunks_global(sized, capacity=64, block_width=50)


def _bkt_probe_df(spark, emb):
    import tempfile

    from sptag_spark.operators.bkt import bkt_build, bkt_probe

    path = os.path.join(tempfile.gettempdir(), "sptag_bkt_plansdoc")
    bkt_build(emb, path, branch=4, leaf_max=64, cell_iters=4)
    return bkt_probe(spark, path, emb.filter("vec_id < 2"), k=5, nprobe=2)


def _paged_budget_df(spark, emb):
    import tempfile

    from sptag_spark.operators.knn import ivf_build, relaxed_mono_topk

    path = os.path.join(tempfile.gettempdir(), "sptag_paged_plansdoc")
    ivf_build(emb, n_centroids=16, path=path)
    qvec = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return relaxed_mono_topk(spark, path, qvec, k=20, max_check=60)


def _tpt_graph_df(emb):
    from sptag_spark.operators.graph import build_knn_graph_tpt

    return build_knn_graph_tpt(emb, k=4, trees=2, leaf_size=64)


def _beam_search_df(emb):
    from sptag_spark.operators.graph import (build_knn_graph,
                                             graph_beam_search)

    g = build_knn_graph(emb, k=4, n_blocks=4)
    return graph_beam_search(g, emb, emb.filter("vec_id < 2"), k=4,
                             beam=4, rounds=1, n_seeds=4)


def _decontaminate(docs):
    from sptag_spark.operators.corpus import contamination_report

    return contamination_report(
        docs.filter("doc_id % 10 <> 0"), docs.filter("doc_id % 10 = 0")
    )


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from sptag_spark.operators.asof import asof_join
    from sptag_spark.operators.dedup import minhash_lsh_pairs
    from sptag_spark.operators.knn import brute_force_topk
    from sptag_spark.operators.sessionize import sessionize
    from sptag_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    probe = ev.filter("event_type='purchase'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type='click'").select(
        "user_id", "ts", F.col("value").alias("click_value"))

    sections = [
        (
            "As-of join (union strategy) — the flagship",
            "ONE Exchange (hash on user_id) feeding one Window with a "
            "running last(ignorenulls); both scans show PushedFilters on "
            "event_type and pruned ReadSchema. At 10^12 rows this is one "
            "shuffle of probe+data combined, fully codegen'd.",
            asof_join(probe, clicks, on="user_id", probe_ts="ts",
                      data_ts="ts"),
        ),
        (
            "As-of join (broadcast strategy)",
            "A LEFT OUTER hash join on user_id with ts <= asof_ts in the "
            "join condition: Spark builds the data side (BroadcastHashJoin "
            "LeftOuter, BuildRight when it fits under the broadcast "
            "threshold, a sort-merge join otherwise), the probe side "
            "streams, and the top-1 window shuffles only the join output. "
            "Use when probes << data (feature lookup batches).",
            asof_join(probe.limit(100), clicks, on="user_id",
                      probe_ts="ts", data_ts="ts", strategy="broadcast"),
        ),
        (
            "Sessionize",
            "One Exchange + two Windows sharing the same partitioning "
            "(gap flags, then running sum) — Catalyst reuses the sort.",
            sessionize(ev.select("event_id", "user_id", "ts"),
                       keys=["user_id"], ts="ts", gap_seconds=1800),
        ),
        (
            "Brute-force cosine top-k",
            "Queries broadcast; corpus scan reads only (vec_id, "
            "embedding) — label pruned; single Exchange for the "
            "per-query top-k window.",
            brute_force_topk(emb, emb.filter("vec_id < 4"), k=5),
        ),
        (
            "MinHash LSH candidate pairs",
            "Signatures come from ONE Arrow kernel execution "
            "(normalize+shingle+md5+minhash fused in Python — the "
            "thread-scalable shape, BENCH.md corpus-dedup section); the "
            "explicit repartition on (band, k0..k2) above the kernel is "
            "what both self-join sides reuse (without it each side "
            "re-ran the kernel). Band keys are raw longs — no per-row "
            "string allocation anywhere past the scan.",
            minhash_lsh_pairs(docs, num_hashes=12, bands=4),
        ),
        (
            "As-of join (salted strategy) — hot-key chunking",
            "The running-last window Exchange hashes on (user_id, "
            "__asof_chunk): a hot key's timeline fans out over chunks "
            "instead of pinning one reducer; the tiny carry frame joins "
            "back as a BroadcastHashJoin. Fan-out is asserted at runtime "
            "in tests/test_plans.py.",
            asof_join(
                ev.withColumn(
                    "user_id",
                    F.when(F.col("user_id") % 5 == 0,
                           F.lit(0).cast("bigint"))
                    .otherwise(F.col("user_id"))
                ).filter("event_type='purchase'")
                .select("event_id", "user_id", "ts"),
                ev.withColumn(
                    "user_id",
                    F.when(F.col("user_id") % 5 == 0,
                           F.lit(0).cast("bigint"))
                    .otherwise(F.col("user_id"))
                ).filter("event_type='click'").select(
                    "user_id", "ts", F.col("value").alias("click_value")),
                on="user_id", probe_ts="ts", data_ts="ts",
                strategy="salted", target_rows_per_key=50),
        ),
        (
            "IVF probe over the persisted index",
            "PartitionFilters: [bucket IN (...)] — only the nprobe "
            "bucket partitions are read (plus dynamic pruning from the "
            "broadcast probe join); bucket assignment itself is one "
            "Arrow kernel with zero Exchange and zero Window.",
            _ivf_probe_df(spark, emb),
        ),
        (
            "IVF x PQ probe — ADC-scored pruned scan + exact re-rank",
            "The composed SPANN shape: the ADC scan's postings read is "
            "partition-pruned AND codes-only (ReadSchema has codes, NOT "
            "embedding — m element_at gathers against the broadcast "
            "per-query tables, whole-stage codegen); the second pruned "
            "read fetches embeddings for ONLY the top-rerank candidates "
            "(broadcast join on id) before the exact quantized-cosine "
            "window. Column split asserted in tests/test_ivfpq.py.",
            _ivf_pq_probe_df(spark, emb),
        ),
        (
            "Shingle-Jaccard pairs — single-scan, skew-spread self-join",
            "ONE parquet scan: self-join sides AND the stop-shingle "
            "frequency branch all hang off one hash-Exchange partitioned "
            "on (_h, _id) — AQE turns every other read into a "
            "ReusedExchange. (_h, _id), not _h alone: a hot stop-shingle "
            "spreads across reducers by doc id instead of pinning one "
            "task; its global count is a two-phase aggregate whose "
            "bounded stop set broadcasts back as a map-side anti-join, "
            "so stop rows die before the join's _h exchange. "
            "explode_outer avoids the InferFiltersFromGenerate "
            "re-inlining of the shingle expression. Runtime reuse + "
            "(_h,_id) spread asserted in tests/test_plans.py.",
            _jaccard(docs),
        ),
        (
            "Global sequence packing — blocked cumulative scan",
            "No corpus-wide window: the per-row cumsum window partitions "
            "on _blk (each task sees one block), cross-block offsets are "
            "a #blocks-row window broadcast back as a BroadcastHashJoin. "
            "The chunk-span explode is map-side sequence generation.",
            _pack_global(docs),
        ),
        (
            "TPT approximate kNN-graph build",
            "One corpus scan -> Arrow BLAS projections -> zero-shuffle "
            "mean-split rounds (per-node stats are tiny broadcast "
            "aggregates) -> one narrow (tree, node) exchange spread over "
            "~8x the group count (few near-equal groups would otherwise "
            "collide in one task) -> shuffle-hash join puts vectors on "
            "leaf rows -> per-(tree, leaf) bounded matmuls -> one "
            "hash(src) exchange serving dedup AND the ranking window. "
            "O(N*leaf*trees) compute; N->4N 0.802 (BENCH.md round 5).",
            _tpt_graph_df(emb),
        ),
        (
            "Multi-level BKT probe",
            "Tree descent happens inside one Arrow kernel (the tree is "
            "closure-broadcast, like the flat centroid kernel); the "
            "postings scan then carries the same PartitionFilters "
            "IN-list as flat IVF — the hierarchy changes WHICH buckets, "
            "never the scan shape. Maintenance-born orphan heads are "
            "flat-scored inside the same kernel, so lifecycle ops "
            "(split/merge) never add a plan stage.",
            _bkt_probe_df(spark, emb),
        ),
        (
            "Relaxed-Monotonicity budgeted scan (batch form)",
            "The cursor's budget resolves to a STATIC bucket IN-list "
            "(driver-side head walk over the tiny centroid table), so "
            "the scan is partition-pruned exactly like a probe; the "
            "relaxed_mono flag is one codegen'd comparison against the "
            "frontier literal — no extra pass, no shuffle beyond the "
            "TakeOrdered.",
            _paged_budget_df(spark, emb),
        ),
        (
            "Graph beam search (one walk round)",
            "The reference's in-memory query path as hash joins: the "
            "frontier (query_id, node) joins the undirected edge list, "
            "anti-joins the visited set, and re-scores candidates with "
            "codegen'd quantized-int expressions — the node-vector join "
            "is the round's only wide exchange, query vectors ride a "
            "BROADCAST. Prior rounds sit behind an eager checkpoint, so "
            "each round's plan is one self-similar block regardless of "
            "depth.",
            _beam_search_df(emb),
        ),
        (
            "Benchmark decontamination",
            "ONE linear branch: the corpus shingle kernel (Python, "
            "thread-scalable) executes exactly once (MapInArrow appears "
            "once per side — asserted in tests/test_plans.py), LEFT-"
            "joins map-side against the BROADCAST benchmark shingle "
            "set, and a single per-doc aggregate computes counts and "
            "hit stats together (partial aggregation dedupes exploded "
            "rows before the one shuffle).",
            _decontaminate(docs),
        ),
    ]

    out = ["# PLANS — physical plans of the flagship operators",
           "",
           f"Generated by `python tools/dump_plans.py` at {sf}. The stated "
           "properties are enforced by `tests/test_plans.py`.", ""]
    for title, why, df in sections:
        out += [f"## {title}", "", why, "", "```", plan_of(df), "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
