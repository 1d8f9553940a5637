"""IVF x PQ — quantized postings with ADC-scored pruned scans + exact
re-rank: the composed SPANN search shape.

The reference's disk search never scores full vectors during the posting
scan: postings hold PQ codes, the query precomputes per-subspace ADC
lookup tables, the scan accumulates table gathers, and only the best
candidates are re-ranked exactly (ExtraStaticSearcher.h:260-411
ProcessPosting; PQQuantizer.h:111-130 ADC tables). At 100 TB that is the
difference between scanning m bytes/row and dim*4 bytes/row.

Spark restatement — three cooperating plans, all deterministic:

- build: ONE Arrow-kernel pass assigns the nearest md5-selected centroid
  (bucket) AND encodes per-subspace argmin codes against md5-sampled
  integer codebooks (exact int64 math, first-min tiebreak). Postings are
  written partitionBy('bucket') carrying (row, bucket, codes); the
  centroid + codebook tables land beside them.
- ADC scan: a partition-PRUNED postings read of ONLY (id, bucket, codes)
  — column pruning keeps the embedding out of the scan (plan-asserted)
  — broadcast-joined with the (query_id, bucket) probe frame and a
  per-query ADC-table frame; the score is m element_at gathers + adds,
  whole-stage codegen, top-`rerank` per query by (adc ASC, id ASC).
- re-rank: the surviving Q x rerank candidates broadcast back into a
  second pruned postings read (id, embedding this time), exact
  quantized-cosine top-k — identical scoring tail to every other knn
  query (_score_candidates).

Everything is integer or correctly-rounded IEEE on identical inputs, so
the DuckDB oracle replicates build + ADC + re-rank hash-exactly; recall
vs brute force is gated separately in tests (reference harness
TruthSet.h:242-285).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from sptag_spark.functions.vecarrow import list_to_matrix, np_quantize
from sptag_spark.operators.knn import (
    _collect_centroids,
    _write_postings,
    _nearest_centroid_kernel,
    _probe_buckets,
    _score_candidates,
    _write_index_meta,
    quantize,
    select_centroids,
)
from sptag_spark.operators.pq import pq_codebooks_md5


def _encode_codes(X: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(n, dim) int64 -> (n, m) int32 per-subspace argmin codes (exact
    integer squared-L2, numpy first-min == lowest-code tiebreak)."""
    m, kk, dsub = codebooks.shape
    codes = np.empty((len(X), m), dtype=np.int32)
    for s in range(m):
        sl = X[:, s * dsub:(s + 1) * dsub]
        d = ((sl[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d.argmin(axis=1)
    return codes


def _assign_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    vec_col: str,
    replica_count: int = 1,
) -> DataFrame:
    """corpus + (codes array<int>, bucket) in ONE Arrow-kernel pass:
    nearest-centroid argmax AND per-subspace argmin encode over the same
    quantized matrix — zero shuffle (shared by build and append). With
    replica_count > 1 rows fan out to up to that many RNG-pruned head
    buckets (knn._replica_assign_kernel — the reference's ReplicaCount
    closure) and carry `replica_rank`; codes are computed once per input
    row and replicated with it."""
    import pyarrow as pa

    from sptag_spark.operators.knn import _replica_assign_kernel

    cent_ids, cent_mat, cent_norms = _collect_centroids(centroids)
    bucket_type = centroids.schema["centroid_id"].dataType
    with_q = corpus.withColumn("__q", quantize(F.col(vec_col)))
    replicated = replica_count > 1
    fields = list(corpus.schema.fields) + [
        StructField("codes", ArrayType(IntegerType())),
        StructField("bucket", bucket_type),
    ]
    if replicated:
        fields.append(StructField("replica_rank", IntegerType()))
        assign = _replica_assign_kernel(
            cent_ids, cent_mat, cent_norms, replica_count)
    else:
        top = _nearest_centroid_kernel(cent_ids, cent_mat, cent_norms, 1)
    out_schema = StructType(fields)
    out_names = [f.name for f in out_schema.fields]
    n_base = len(corpus.schema.fields)
    n_sub = codebooks.shape[0]

    def _codes_arr(codes: np.ndarray) -> "pa.ListArray":
        n = len(codes)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * n_sub, n_sub, dtype=np.int32)),
            pa.array(codes.reshape(-1), pa.int32()),
        )

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column("__q"), np.int64)
            n = len(X)
            if not replicated:
                if n == 0:
                    buckets = np.array([], dtype=np.int64)
                    codes = np.empty((0, n_sub), dtype=np.int32)
                else:
                    buckets = top(X)[:, 0]
                    codes = _encode_codes(X, codebooks)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(nm) for nm in out_names[:n_base]]
                    + [_codes_arr(codes), pa.array(buckets)],
                    names=out_names,
                )
                continue
            if n == 0:
                continue
            rows, buckets, rank = assign(X)
            codes = _encode_codes(X, codebooks)[rows]
            idx = pa.array(rows, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(nm).take(idx) for nm in out_names[:n_base]]
                + [_codes_arr(codes), pa.array(buckets),
                   pa.array(rank, pa.int32())],
                names=out_names,
            )

    return with_q.mapInArrow(run, schema=out_schema)


def ivf_pq_build(
    corpus: DataFrame,
    n_centroids: int,
    path: str,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: np.ndarray | None = None,
    replica_count: int = 1,
    rotation: str | None = None,
    opq_sample_size: int = 2048,
    opq_iters: int = 10,
) -> None:
    """Build + persist the composed index: bucketed postings carrying PQ
    codes (partitionBy bucket), the centroid table, and the integer
    codebooks. One corpus pass, zero shuffle (quantize stays a JVM
    expression; bucket + codes come from one Arrow kernel).

    Pass `centroids`/`codebooks` to pin the quantization tier (rebuild-
    for-comparison and the incremental lifecycle keep BOTH fixed, like
    the reference's update path — new vectors quantize against the
    trained dictionaries, ExtraDynamicSearcher.h:637-894).
    replica_count > 1 RNG-multi-assigns rows to up to that many head
    postings (the reference's ReplicaCount closure; see knn.ivf_build).

    rotation composes the learned-rotation tier (reference
    OPQQuantizer.h:1-210) into the index:
    - None (default): md5-sampled integer codebooks, fully
      oracle-checkable (the contract-query tier);
    - 'opq': opq_train's rotation R + kmeans codebooks — heads, codes,
      and ADC all live in the ROTATED space (R stored beside the index;
      probes rotate queries, appends rotate new vectors), while
      postings keep the ORIGINAL embedding so the exact re-rank stays
      in the original space (orthogonal R preserves cosine). Float
      training ⇒ deterministic per host but not SQL-replicable — gated
      by recall + determinism tests instead of an oracle (COVERAGE.md);
    - 'pq': identity rotation with the same trainer/budget — the
      controlled baseline the OPQ recall gate compares against."""
    from sptag_spark.operators.pq import opq_rotate_col, opq_train

    spark = corpus.sparkSession
    R = None
    if rotation is not None:
        if rotation not in ("opq", "pq"):
            raise ValueError(f"unknown rotation {rotation!r}")
        iters = opq_iters if rotation == "opq" else 0
        R, books_f = opq_train(
            corpus, m=m, k=k_codes, id_col=id_col, vec_col=vec_col,
            sample_size=opq_sample_size, opq_iters=iters)
        if codebooks is None:
            # same ×1000 scale as quantize() so the int64 ADC machinery
            # is shared with the md5-book tier
            codebooks = np.round(books_f * 1000.0).astype(np.int64)
        work = opq_rotate_col(corpus, R, vec_col, "__rot")
        work_vec = "__rot"
    else:
        work, work_vec = corpus, vec_col
        if codebooks is None:
            codebooks = pq_codebooks_md5(corpus, m=m, k=k_codes,
                                         id_col=id_col, vec_col=vec_col)
    if centroids is None:
        centroids = select_centroids(work, n_centroids, id_col, work_vec)
    m, k_codes, _ = codebooks.shape
    coded = _assign_encode(work, centroids, codebooks, work_vec,
                           replica_count=replica_count)
    if R is not None:
        coded = coded.drop("__rot")
    _write_postings(coded, f"{path}/postings", "overwrite")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    if R is not None:
        _write_rotation(spark, path, R)
    _write_index_meta(spark, path, replica_count=int(replica_count),
                      rotated=R is not None)
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    # list cells + explicit schema: the ndarray-cell form only converts
    # under the Arrow createDataFrame path — a spark-submit session
    # without the Arrow conf falls back to row inference, which cannot
    # type ndarray (the CLI hit exactly that)
    books_pdf = pd.DataFrame({
        "s": np.repeat(np.arange(m, dtype=np.int32), k_codes),
        "j": np.tile(np.arange(k_codes, dtype=np.int32), m),
        "cw": [codebooks[s, j].astype(np.int64).tolist()
               for s in range(m) for j in range(k_codes)],
    })
    books_schema = StructType([
        StructField("s", IntegerType()),
        StructField("j", IntegerType()),
        StructField("cw", ArrayType(LongType())),
    ])
    spark.createDataFrame(books_pdf, schema=books_schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{path}/codebooks")


def ivf_pq_append(
    spark,
    path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    idempotent: bool = False,
) -> None:
    """Append new vectors to a persisted composed index: assign AND
    PQ-encode against the EXISTING heads + codebooks (one zero-shuffle
    kernel pass) and append only the touched bucket partitions. Deletes
    and compaction come from the flat-index machinery (knn.ivf_delete /
    read_postings / ivf_compact — the postings layout is shared).
    Replica fan-out follows the index meta. `idempotent` makes the
    append replay-safe (knn.append_postings_rows — the streaming ingest
    path's exactly-once guard). Raises when pointed at a
    FLAT ivf index (no `codes` in its postings): the appended codes
    column would be invisible to flat probes and the schemas would
    drift — use knn.ivf_append there."""
    from sptag_spark.operators.knn import read_index_meta

    existing = spark.read.parquet(f"{path}/postings")
    if "codes" not in existing.columns:
        raise ValueError(
            f"{path} is a flat ivf index (no `codes` column in its "
            "postings); ivf_pq_append would write a drifting schema — "
            "use knn.ivf_append")
    meta = read_index_meta(spark, path)
    rep = int(meta.get("replica_count", 1))
    centroids = spark.read.parquet(f"{path}/centroids")
    books = _read_codebooks(spark, path)
    work, work_vec = vectors, vec_col
    if meta.get("rotated"):
        from sptag_spark.operators.pq import opq_rotate_col

        work = opq_rotate_col(vectors, _read_rotation(spark, path),
                              vec_col, "__rot")
        work_vec = "__rot"
    coded = _assign_encode(work, centroids, books, work_vec,
                           replica_count=rep)
    if work_vec == "__rot":
        coded = coded.drop("__rot")
    from sptag_spark.operators.knn import append_postings_rows

    append_postings_rows(spark, path, coded, id_col, idempotent)


def _write_rotation(spark, path: str, R: np.ndarray) -> None:
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StructField, StructType,
    )

    # list cells + explicit schema (see codebooks write: ndarray cells
    # fail non-Arrow row inference under a bare spark-submit session)
    spark.createDataFrame(
        pd.DataFrame({
            "i": np.arange(len(R), dtype=np.int32),
            "row": [R[i].tolist() for i in range(len(R))],
        }),
        schema=StructType([
            StructField("i", IntegerType()),
            StructField("row", ArrayType(DoubleType())),
        ]),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/rotation")


def _read_rotation(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/rotation").collect()
    dim = len(rows)
    R = np.empty((dim, dim), dtype=np.float64)
    for r in rows:
        R[r["i"]] = r["row"]
    return R


def _read_codebooks(spark, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = max(r["s"] for r in rows) + 1
    kk = max(r["j"] for r in rows) + 1
    dsub = len(rows[0]["cw"])
    books = np.zeros((m, kk, dsub), dtype=np.int64)
    for r in rows:
        books[r["s"], r["j"]] = r["cw"]
    return books


def _adc_tables_frame(
    queries: DataFrame,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, _t): per-query (m, kk) int64 ADC lookup tables as a
    nested-list column, computed by an Arrow kernel over the query frame
    — no driver collect, so probe WAVES build their tables executor-side
    (quantization stays the build's JVM expression; the numpy math is
    exact int64, identical to the former driver-side form)."""
    import pyarrow as pa

    m, kk, dsub = books.shape
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__q")
    )
    out_schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("_t", ArrayType(ArrayType(LongType()))),
    ])

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column("__q"), np.int64)
            n = len(X)
            if n == 0:
                continue
            T = np.stack([
                ((X[:, None, s * dsub:(s + 1) * dsub]
                  - books[s][None]) ** 2).sum(-1)          # (n, kk) int64
                for s in range(m)
            ], axis=1)                                      # (n, m, kk)
            inner = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n * m + 1) * kk, kk,
                                   dtype=np.int32)),
                pa.array(T.reshape(-1), pa.int64()),
            )
            outer = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32)),
                inner,
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("query_id"), outer],
                names=["query_id", "_t"],
            )

    return q.mapInArrow(run, schema=out_schema)


def _adc_partials_cogrouped(
    post_codes: DataFrame,
    probes: DataFrame,
    q_raw: DataFrame,
    books: np.ndarray,
    rerank: int,
    id_col: str,
    R: "np.ndarray | None" = None,
) -> DataFrame:
    """Per-BUCKET ADC scoring with per-query partial top-`rerank` AND
    fused exact re-rank inputs — the reference's ProcessPosting shape
    (ExtraStaticSearcher.h:260-411: a posting is scanned once against
    every query probing it, each query keeps a bounded heap). Cogroup
    postings x probes on bucket; inside each bucket ONE numpy pass
    builds the (queries, rows) int64 ADC matrix (table gathers, math
    identical to _adc_tables_frame), a stable argsort over rows
    pre-sorted by id gives the exact (adc ASC, id ASC) partial order,
    and the surviving pairs get their EXACT int64 dot/norms computed
    on the spot — so the downstream exact re-rank is a scalar
    expression over ~Q x nprobe x rerank rows, with no second postings
    read and no rerank join.

    Why not the expression path for waves: scoring Q x nprobe x
    |posting| candidate ROWS materializes tens of millions of rows
    through two shuffles (dedup + rank window), per-row interpreted
    HOF scoring, and flattens at high thread counts (JVM allocation
    contention — CLAUDE.md rules 10/13); here the pair blowup exists
    only as a numpy matrix inside Arrow workers.

    Both sides ship RAW floats: post_codes carries `__pe` (the stored
    embedding, untouched) and q_raw carries `__qe` (the original query
    vector) — half the shuffle bytes of pre-quantized int64 columns and
    zero per-row JVM array allocation (no quantize HOF on the scan;
    CLAUDE.md rule 13). The kernel quantizes with vecarrow.np_quantize
    (bit-identical HALF_UP twin of the JVM expression) and, for rotated
    (OPQ) indexes, applies `R` itself — the same float64 matmul
    opq_rotate_col runs, so head space stays bit-identical. `_nb` (the
    per-QUERY norm) is not emitted per candidate row; the caller joins
    it back from a tiny broadcast frame.

    Arrow-native (applyInArrow + vecarrow zero-copy ingestion): the
    pandas form boxed every posting row's codes/__pv into per-row
    ndarrays — at wave scale that conversion dominated the kernel. The
    gather accumulates in int32 when the table range provably fits
    (half the memory traffic of the scan's hot loop; the scan is
    bandwidth-bound, so this is also what the N->4N efficiency hinges
    on), and top-`rerank` selection is an O(n) argpartition on the
    exact (adc << ceil_log2(n)) | id_rank composite key — bit-identical
    to the former stable argsort, without the per-row full sort."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    m, kk, dsub = books.shape
    out_schema = StructType([
        StructField("query_id", probes.schema["query_id"].dataType),
        StructField(id_col, post_codes.schema[id_col].dataType),
        StructField("_adc", LongType()),
        StructField("_dot", LongType()),
        StructField("_na", LongType()),
    ])
    arrow_out = to_arrow_schema(out_schema)
    # cogroup sides must not share data-column names (Spark 4 prunes
    # by name under narrow consumers — see knn's __pb_ prefixing), and the
    # grouping keys MUST share a dtype: the postings' partition column
    # is directory-inferred (int), the probe frame carries centroid_id
    # (long) — misaligned key types silently fail to cogroup
    probe_q = probes.join(q_raw, "query_id").select(
        F.col("bucket").cast(post_codes.schema["bucket"].dataType)
        .alias("__pb_bucket"), "query_id", "__qe")

    def score(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if left.num_rows == 0 or right.num_rows == 0:
            return arrow_out.empty_table()
        vids_raw = left.column(id_col).to_numpy(zero_copy_only=False)
        order = np.argsort(vids_raw, kind="stable")  # id ASC tiebreak
        vids = vids_raw[order]
        codes = list_to_matrix(left.column("codes"), np.int64)[order]
        PV = np_quantize(
            list_to_matrix(left.column("__pe"), np.float64))[order]
        Xe = list_to_matrix(right.column("__qe"), np.float64)
        Xqo = np_quantize(Xe)
        Xq = np_quantize(Xe @ R) if R is not None else Xqo
        qids = right.column("query_id").to_numpy(zero_copy_only=False)
        nq, n = len(Xq), len(vids)
        T = np.stack([
            ((Xq[:, None, s * dsub:(s + 1) * dsub]
              - books[s][None]) ** 2).sum(-1)            # (nq, kk) int64
            for s in range(m)
        ])                                               # (m, nq, kk)
        tmax = int(T.max()) if T.size else 0
        # int32 gather when the summed score provably fits — the
        # (nq, n) gather+add is the bandwidth-bound hot loop
        dt = np.int32 if tmax * m < 2**31 - 1 else np.int64
        Tg = T.astype(dt, copy=False)
        r = min(rerank, n)
        shift = max(int(n - 1).bit_length(), 1)
        exact_part = tmax * m + 1 < 2 ** (62 - shift)
        idx = np.arange(n, dtype=np.int64)[None, :]
        # cache-blocked over QUERY chunks: the chunk's accumulator,
        # composite keys, and argpartition working set (~chunk×12 B)
        # stay L2/L3-resident, and only the top-r survivors leave the
        # chunk — DRAM sees the codes matrix and tables, not three
        # full-(nq,n)-matrix sweeps. The previous column-blocked form
        # kept only the accumulator resident and still streamed the
        # full adc + int64 composite: 0.45 process-scaling at 8 procs
        # vs 0.85 for this shape (measured with the rule-18
        # multiprocessing harness at campaign task sizes; 1.9× absolute
        # at 8 procs, parity at 2).
        QB = max(16, min(nq, 375_000 // max(n, 1)))
        sel = np.empty((nq, r), dtype=np.int64)
        adc_sel = np.empty((nq, r), dtype=np.int64)
        dots = np.empty((nq, r), dtype=np.int64)
        na = np.empty((nq, r), dtype=np.int64)
        na_full = (PV * PV).sum(1)
        # self-row sentinel: one past the largest possible real score,
        # NOT iinfo(dt).max — the composite key shifts adc left, and
        # (2^63-1) << shift wraps negative in int64, which would sort
        # self rows FIRST and displace a real candidate; tmax*m+1 fits
        # dt by construction (int32 only when tmax*m < 2^31-1) and
        # shifts safely under the same bound that admits the branch
        sentinel = dt(tmax * m + 1)
        for q0 in range(0, nq, QB):
            q1 = min(q0 + QB, nq)
            acc = Tg[0][q0:q1][:, codes[:, 0]]  # fancy-index: a copy
            for s in range(1, m):
                acc += Tg[s][q0:q1][:, codes[:, s]]
            acc[qids[q0:q1, None] == vids[None, :]] = sentinel
            if exact_part:
                # exact O(n) top-r: composite (adc, id_rank) keys are
                # distinct, argpartition's first r ARE the (adc ASC,
                # id ASC) winners (self rows sort last)
                comb = (acc.astype(np.int64) << shift) | idx
                s_blk = np.argpartition(comb, r - 1, axis=1)[:, :r]
            else:  # pathological magnitude: stable full sort
                s_blk = np.argsort(acc, axis=1, kind="stable")[:, :r]
            sel[q0:q1] = s_blk
            adc_sel[q0:q1] = np.take_along_axis(acc, s_blk, 1)
            # exact int64 dot/norms for ONLY the surviving pairs
            # (original space, identical to the JVM idot math) —
            # computed INSIDE the query chunk so the (chunk, r, dim)
            # gather + einsum working set (~1.5 MB) stays L3-resident
            # and PV (n x dim, ~4 MB) is the only DRAM-visible read.
            # The former whole-(nq, r, dim) form streamed ~3 full
            # int64 copies through DRAM per group and flattened at 8
            # workers: rule-18 harness at 7812-row x 781-query groups,
            # min-of-3, process-scaling 0.36 -> 0.81 and 8-proc kernel
            # time 4.3 s -> 2.1 s from this move alone.
            G = PV[s_blk]                                # (qb, r, dim)
            dots[q0:q1] = np.einsum("qrd,qd->qr", G, Xqo[q0:q1])
            na[q0:q1] = na_full[s_blk]
        out_q = np.repeat(qids, r)
        out_v = vids[sel.reshape(-1)]
        keep = out_q != out_v                            # drop self pairs
        return pa.Table.from_arrays([
            pa.array(out_q[keep]),
            pa.array(out_v[keep]),
            pa.array(adc_sel.reshape(-1)[keep]),
            pa.array(dots.reshape(-1)[keep]),
            pa.array(na.reshape(-1)[keep]),
        ], schema=arrow_out)

    return post_codes.groupby("bucket").cogroup(
        probe_q.groupby("__pb_bucket")
    ).applyInArrow(score, schema=out_schema)


def ivf_pq_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_mode: str = "auto",
    driver_probe_limit: int = 10_000,
    max_dist_ratio: float | None = None,
    probe_scratch_dir: str | None = None,
) -> DataFrame:
    """ADC-scored pruned scan + exact re-rank over a persisted ivf_pq
    index. Returns (query_id, vec_id, cosine, rank) — the standard knn
    output contract.

    Probe selection mirrors knn.probe_pruned_topk: 'driver' (static
    bucket IN-list + broadcast probes/tables/candidates — interactive
    batches) vs 'join' (probes written to an executor-side table,
    broadcast distinct-bucket semi-join drives dynamic partition
    pruning, tables/candidates/queries join as AQE-planned joins —
    probe waves); 'auto' switches on a limit-bounded query count. The
    ADC tables are ALWAYS computed executor-side (_adc_tables_frame) —
    no query collect on any path. On a replica-built index candidates
    dedupe on (query, id) before ADC ranking; `max_dist_ratio` drops
    far probe heads (knn._probe_buckets); `probe_scratch_dir` relocates
    join-mode side tables off a read-only index."""
    from sptag_spark.operators.knn import (
        _resolve_probes, read_index_meta, read_postings,
    )

    centroids = spark.read.parquet(f"{path}/centroids")
    books = _read_codebooks(spark, path)
    m = books.shape[0]
    # rotated (OPQ) index: heads/codes/ADC live in the rotated space, so
    # the query side rotates once (Arrow matmul) for head selection and
    # tables; the exact re-rank below stays in the ORIGINAL space
    q_probe, q_probe_vec = queries, vec_col
    # meta + rotation read ONCE per probe call (each is a parquet
    # read + driver collect) and reused below
    rot = (_read_rotation(spark, path)
           if read_index_meta(spark, path).get("rotated") else None)
    if rot is not None:
        from sptag_spark.operators.pq import opq_rotate_col

        q_probe = opq_rotate_col(queries, rot, vec_col, "__rot")
        q_probe_vec = "__rot"
    # small batches: driver-side probe selection (knn._driver_probes —
    # one Arrow collect replaces the mode count + probe-kernel jobs;
    # for OPQ the collect executes the rotation kernel, so the driver
    # scores exactly the executor path's rotated vectors); waves fall
    # through to the executor kernel + join-mode pruning
    from sptag_spark.operators.knn import _driver_probes

    probes = _driver_probes(spark, path, q_probe, nprobe, id_col,
                            q_probe_vec, max_dist_ratio,
                            driver_probe_limit, probe_mode)
    if probes is None:
        probes = _probe_buckets(q_probe, centroids, nprobe, id_col,
                                q_probe_vec,
                                max_dist_ratio=max_dist_ratio)
        eff_mode = "join" if probe_mode == "auto" else probe_mode
    else:
        eff_mode = "driver"
    mode, probes_local, prune = _resolve_probes(
        spark, path, probes, queries, eff_mode, driver_probe_limit,
        scratch_dir=probe_scratch_dir)
    big = mode == "join"

    # ADC scan: codes-only pruned read — the embedding column never
    # enters this scan (column pruning; asserted in test_plans.py).
    post = read_postings(spark, path, id_col)
    replicated = "replica_rank" in post.columns

    def pruned(cols):
        return prune(post.select(*cols))

    w = Window.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col(id_col).asc()
    )
    if big:
        # wave path: per-bucket cogrouped numpy scoring, partial
        # top-rerank per (bucket, query) with fused exact-rerank dot/
        # norms — the candidate-pair blowup never becomes Spark rows
        # and the embedding column never leaves the kernel scan
        # (see _adc_partials_cogrouped). Both sides ship RAW floats;
        # the kernel quantizes (and rotates, for OPQ) bit-identically
        post_kern = prune(
            post.select(id_col, "bucket", "codes",
                        F.col(vec_col).alias("__pe")))
        q_raw = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qe"),
        )
        partial = _adc_partials_cogrouped(
            post_kern, probes_local, q_raw, books, rerank, id_col,
            R=rot)
        if replicated:
            # replica copies carry identical codes => identical _adc:
            # one candidate per (query, vector). Repartitioning on
            # query_id first lets the dedup AND both ranking windows
            # share one exchange (subset-clustering satisfaction)
            partial = partial.repartition("query_id") \
                .dropDuplicates(["query_id", id_col])
        from sptag_spark.operators.knn import cosine_from_quantized, idot

        # per-QUERY norm joined back from a tiny broadcast frame (the
        # kernel no longer ships it on every candidate row)
        nbf = F.broadcast(queries.select(
            F.col(id_col).alias("query_id"),
            idot(quantize(F.col(vec_col)),
                 quantize(F.col(vec_col))).alias("_nb")))
        wk = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col(id_col).asc()
        )
        return (
            partial.withColumn("_arn", F.row_number().over(w))
            .filter(F.col("_arn") <= rerank)
            .join(nbf, "query_id")
            .withColumn("cosine", cosine_from_quantized(
                F.col("_dot"), F.col("_na"), F.col("_nb")))
            .withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col(id_col).alias("vec_id"), "cosine",
                    F.col("rank").cast("int").alias("rank"))
        )
    else:
        post_codes = pruned([id_col, "bucket", "codes"])
        tables = F.broadcast(
            _adc_tables_frame(q_probe, books, id_col, q_probe_vec))
        adc = None
        for s in range(m):
            term = F.element_at(
                F.element_at(F.col("_t"), s + 1),
                F.element_at(F.col("codes"), s + 1) + 1,
            )
            adc = term if adc is None else adc + term
        cand_pairs = (
            post_codes.join(probes_local, "bucket")
            .filter(F.col(id_col) != F.col("query_id"))
        )
        if replicated:
            # replica copies carry identical codes: one ADC score per
            # (query, vector), not per surviving replica posting.
            # repartition first so the dedup and the rank window share
            # ONE exchange (CLAUDE.md rule 17 — subset clustering)
            cand_pairs = cand_pairs.drop("bucket") \
                .repartition("query_id") \
                .dropDuplicates(["query_id", id_col])
        scored = (
            cand_pairs
            .join(tables, "query_id")
            .withColumn("_adc", adc.cast("long"))
        )
        cand = F.broadcast(
            scored.withColumn("_arn", F.row_number().over(w))
            .filter(F.col("_arn") <= rerank)
            .select("query_id", id_col)
        )

    # Exact re-rank (driver mode only — the wave path returned above):
    # second pruned read, embeddings for ONLY the surviving candidates,
    # broadcast semi-shape join on id, queries broadcast.
    post_vec = pruned([id_col, "bucket", vec_col]).drop("bucket")
    if replicated:
        # each vector's embedding appears once per replica posting; the
        # re-rank join must see it once
        post_vec = post_vec.dropDuplicates([id_col])
    qvec = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ))
    rr = post_vec.join(cand, id_col).join(qvec, "query_id")
    return _score_candidates(rr, k, id_col, vec_col)
