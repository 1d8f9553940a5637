"""Similarity search over embedding columns (array<float>).

The Spark restatement of the reference's core search pipeline
(SPANNIndex.cpp:293-395): brute-force cosine top-k is the exact baseline
(the reference's truth-set generator, TruthSet.h:30-165), IVF bucket
search is the scale path (head selection + posting-list probe,
SPANNIndex.cpp:901-1041 SelectHead / ExtraStaticSearcher.h:260-411), and
sign-LSH pairing mirrors the TPT random-hyperplane partitioning
(NeighborhoodGraph.h:246-306).

Determinism across Spark and the DuckDB oracle:
- embeddings are quantized `CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)`
  so dots and norms are exact integers;
- cosine = dot / (sqrt(double(na)) * sqrt(double(nb))) — every step is a
  correctly-rounded IEEE op on identical inputs, hence bit-identical;
- ranking ties break on vec_id (the reference's VID tiebreak,
  QueryResultSet.h:83-85).

Scale notes: the query side is broadcast (queries << corpus — same shape
as the reference's in-memory head index vs on-disk postings); the corpus
scan stays whole-stage-codegen'd JVM expressions. IVF turns the O(Q·N)
scan into O(Q·N·nprobe/C) with partition pruning on the bucket column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sptag_spark.functions.vecarrow import (
    exact_int_matmul,
    list_to_matrix,
    np_quantize,
)


def quantize(v: Column) -> Column:
    """array<float> -> array<bigint>, exact in both engines."""
    return F.transform(
        v, lambda x: F.round(x.cast("double") * 1000).cast("long")
    )


def idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


def cosine_from_quantized(dot: Column, na: Column, nb: Column) -> Column:
    return dot.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def _with_quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    q = quantize(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("_id"), q.alias("_q")
    ).withColumn("_norm", idot(F.col("_q"), F.col("_q")))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus scan.

    Returns (query_id, vec_id, cosine, rank) with rank 1..k per query,
    self-matches excluded. One shuffle (the per-query window); the scoring
    join is broadcast + codegen.
    """
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    c = _with_quantized(corpus, id_col, vec_col)
    q = _with_quantized(queries, qid, qvec).withColumnRenamed(
        "_id", "_qid"
    ).withColumnRenamed("_q", "_qq").withColumnRenamed("_norm", "_qnorm")
    cond = F.col("_id") != F.col("_qid") if exclude_self else F.lit(True)
    scored = (
        c.join(F.broadcast(q), cond)
        .withColumn(
            "cosine",
            cosine_from_quantized(
                idot(F.col("_q"), F.col("_qq")),
                F.col("_norm"),
                F.col("_qnorm"),
            ),
        )
    )
    w = Window.partitionBy("_qid").orderBy(
        F.col("cosine").desc(), F.col("_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_id").alias("vec_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Filtered ANN as ONE query (reference SearchIndexWithFilter,
    VectorIndex.h:59 / BKTIndex.cpp:504-568): the metadata predicate is
    applied below the scoring join — Catalyst pushes it into the parquet
    scan (asserted in tests/test_plans.py), so filtered rows are never
    scored, exactly like the reference's in-loop filter before heap
    insert (BKTIndex.cpp:336,352).

    `predicate` is a Column or SQL string over corpus columns.
    """
    return brute_force_topk(
        corpus.filter(predicate), queries, k=k,
        id_col=id_col, vec_col=vec_col, **kwargs,
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs (a < b) with cosine >= threshold.

    Quadratic by construction — the correctness baseline. At scale use
    `lsh_near_dup_pairs` to generate candidates and verify them with this
    scoring expression.
    """
    v = _with_quantized(df, id_col, vec_col)
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .withColumn(
            "cosine",
            cosine_from_quantized(
                idot(F.col("a._q"), F.col("b._q")),
                F.col("a._norm"),
                F.col("b._norm"),
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            "cosine",
        )
    )


def _lsh_planes(dim: int, bits: int = 32, seed: int = 42) -> "np.ndarray":
    """Deterministic ±1 hyperplanes from (seed, j, i) md5 bytes — the
    reference's random-hyperplane TPT splits (NeighborhoodGraph.h:246-306)
    with a portable, seedable plane family."""
    import hashlib

    import numpy as np

    planes = np.empty((bits, dim), dtype=np.int64)
    for j in range(bits):
        for i in range(dim):
            h = hashlib.md5(f"{seed}|{j}|{i}".encode()).digest()[0]
            planes[j, i] = 1 if h & 1 else -1
    return planes


def _with_lsh_sketch(q: DataFrame, bits: int = 32,
                     seed: int = 42) -> DataFrame:
    """Add `_sk` (int64 sketch) to a (_id, _q, _norm) frame: bit j =
    sign(<v, plane_j>) computed as ONE numpy matmul per Arrow batch —
    exact integer dots, identical to the per-bit expression form but two
    orders of magnitude fewer expression evaluations.

    The plane matrix derives from the first batch's row width — no
    driver-side `first()` job runs before the plan is built."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    weights = (1 << np.arange(bits, dtype=np.int64))
    out_schema = StructType(
        list(q.schema.fields) + [StructField("_sk", LongType())]
    )

    def run(batches):
        planes = None
        for batch in batches:
            X = list_to_matrix(batch.column("_q"), np.int64)
            if len(X) == 0:
                sk = np.array([], dtype=np.int64)
            else:
                if planes is None:
                    planes = _lsh_planes(X.shape[1], bits, seed)
                dots = X @ planes.T               # (n, bits), exact int64
                sk = ((dots > 0).astype(np.int64) * weights).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(sk, pa.int64())],
                names=[f.name for f in out_schema.fields],
            )

    return q.mapInArrow(run, schema=out_schema)


BLOCK_TARGET_ROWS = 2500


def adaptive_n_blocks(df: DataFrame, minimum: int = 4,
                      maximum: int = 64) -> int:
    """Data-size-adaptive block count for the blocked all-pairs kernels
    (guide §2: derive partitioning from input size, never a constant
    tuned to one scale): B = clamp(ceil(N / 2500), 4, 64), so blocks
    stay ~BLOCK_TARGET_ROWS rows — measured the sweet spot on 64-dim
    quantized vectors (sweep at N=20k: B=8 → 1.89 s vs B=11 → 2.46 s
    vs B=20 → 4.31 s; at N=2k: B=4 → 0.65 s vs B=8 → 1.46 s). Larger
    blocks amortize per-task/kernel overhead into efficient BLAS
    matmuls; block count (and with it task count B*(B+1)/2) grows
    linearly with N, so parallelism follows data size. Per-task memory
    is bounded by the ~2500^2-double cosine matrix (~50 MB). The count
    is parquet-metadata-cheap on scan-backed frames; pass an explicit
    n_blocks when the input is an expensive derived frame."""
    n = df.count()
    return max(minimum, min(maximum, -(-n // BLOCK_TARGET_ROWS)))


def _tag_block_pairs(src: DataFrame, n_blocks: int) -> DataFrame:
    """(_id, _e raw-float vec) -> one row per (row, unordered block pair
    containing its block): columns (_id, _e, _pid, _side).

    Each row fans out to exactly n_blocks entries (one per partner
    block) via a sequence-transform — O(B) expression work per row, vs
    the old O(B^2) when-array — and the output is hash-repartitioned on
    _pid over ~8x the group count so near-equal kernel groups don't
    collide into one task (CLAUDE.md rule 19); the grouped kernel then
    reuses that clustering without a second exchange."""
    from sptag_spark.session import shuffle_parts

    b = F.col("_blk")
    ent = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda t: F.struct(
            F.when(t < b, t * n_blocks + b)
            .otherwise(b * n_blocks + t).alias("pid"),
            F.when(t < b, F.lit("R"))
            .when(t > b, F.lit("L"))
            .otherwise(F.lit("B")).alias("side"),
        ),
    )
    n_groups = n_blocks * (n_blocks + 1) // 2
    parts = max(shuffle_parts(src.sparkSession), min(8 * n_groups, 1024))
    return (
        src.withColumn(
            "_blk",
            F.pmod(F.xxhash64(F.col("_id")), F.lit(n_blocks)).cast("int"),
        )
        .select("_id", "_e", F.explode(ent).alias("_p"))
        .select("_id", "_e",
                F.col("_p.pid").alias("_pid"), F.col("_p.side").alias("_side"))
        .repartition(parts, "_pid")
    )


def _blocked_pairs_arrow(
    df: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_blocks: int | None,
    band_masks=None,
    bits: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Shared blocked all-pairs scorer: rows hash into blocks, every
    unordered block pair is one Arrow kernel task, pairwise dots are ONE
    exact int64 matmul (BLAS via exact_int_matmul). Ships RAW floats and
    quantizes in-kernel with vecarrow.np_quantize — half the shuffle
    bytes of pre-quantized longs and zero per-row JVM array allocation
    (CLAUDE.md rules 13/15); bit-identical to the expression path
    (integer dots/norms, cosine = dot / (sqrt(na)*sqrt(nb)) in IEEE
    float64).

    With `band_masks` (int64 numpy array of sign-LSH band masks) a pair
    additionally must agree on >= 1 sketch band — sketches are computed
    in-kernel from the same quantized matrix with the _lsh_planes
    family, exactly as _with_lsh_sketch does — turning the LSH
    "candidates agree on a band" semantics into a post-threshold filter
    instead of a quadratic banded self-join."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DoubleType, StructField, StructType

    if n_blocks is None:
        n_blocks = adaptive_n_blocks(df)
    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_e"))
    tagged = _tag_block_pairs(src, n_blocks)

    out_schema = StructType([
        StructField("id_a", df.schema[id_col].dataType, True),
        StructField("id_b", df.schema[id_col].dataType, True),
        StructField("cosine", DoubleType(), True),
    ])
    arrow_out = to_arrow_schema(out_schema)
    thr = float(threshold)
    masks = None if band_masks is None \
        else np.asarray(band_masks, dtype=np.int64)
    nbits = bits

    def mats(tbl: "pa.Table"):
        ids = tbl.column("_id").to_numpy(zero_copy_only=False)
        X = np_quantize(list_to_matrix(tbl.column("_e"), np.float64))
        nrm = np.sqrt((X * X).sum(axis=1).astype(np.float64))
        return ids, X, nrm

    def sketch(X: "np.ndarray") -> "np.ndarray":
        # identical to _with_lsh_sketch: exact integer dots against the
        # md5-derived ±1 planes, bit j = sign(<v, plane_j>)
        planes = _lsh_planes(X.shape[1], nbits, seed)
        weights = (1 << np.arange(nbits, dtype=np.int64))
        dots = exact_int_matmul(X, planes.T)
        return ((dots > 0).astype(np.int64) * weights).sum(axis=1)

    def band_keep(sk_a, sk_b):
        x = (sk_a ^ sk_b)[:, None] & masks[None, :]
        return (x == 0).any(axis=1)

    def score(tbl: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        def out(a, b, c):
            return pa.Table.from_arrays(
                [pa.array(a), pa.array(b), pa.array(c)], schema=arrow_out)

        side = tbl.column("_side")
        both = tbl.filter(pc.equal(side, "B"))
        if both.num_rows:  # diagonal block: upper triangle of one matmul
            ids, X, nrm = mats(both)
            dots = exact_int_matmul(X, X.T)
            cos = dots / (nrm[:, None] * nrm[None, :])
            ia, ib = np.where(cos >= thr)
            keep = ids[ia] < ids[ib]
            ia, ib = ia[keep], ib[keep]
            if masks is not None and len(ia):
                sk = sketch(X)
                bk = band_keep(sk[ia], sk[ib])
                ia, ib = ia[bk], ib[bk]
            return out(ids[ia], ids[ib], cos[ia, ib])
        left = tbl.filter(pc.equal(side, "L"))
        right = tbl.filter(pc.equal(side, "R"))
        if not left.num_rows or not right.num_rows:
            return arrow_out.empty_table()
        ids_l, X_l, n_l = mats(left)
        ids_r, X_r, n_r = mats(right)
        cos = exact_int_matmul(X_l, X_r.T) / (n_l[:, None] * n_r[None, :])
        ia, ib = np.where(cos >= thr)
        if masks is not None and len(ia):
            bk = band_keep(sketch(X_l)[ia], sketch(X_r)[ib])
            ia, ib = ia[bk], ib[bk]
        a_ids, b_ids = ids_l[ia], ids_r[ib]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        return out(lo, hi, cos[ia, ib])

    return tagged.groupBy("_pid").applyInArrow(score, schema=out_schema)


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 32,
    max_hamming: int = 7,
    n_bands: int = 8,
    mode: str = "auto",
    n_blocks: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs: pairs agreeing on >= 1 of n_bands
    sign-LSH sketch bands (pigeonhole guarantees any pair within hamming
    max_hamming=n_bands-1 survives), verified with the EXACT cosine.
    Approximate solely in candidate RECALL (a pair can differ in every
    band); every emitted pair's cosine is exact, so precision is 1.

    mode='block' (the 'auto' default) computes the identical result as
    a blocked exact scorer with the band-agreement test fused in as a
    post-threshold filter (_blocked_pairs_arrow): with narrow bands
    (bits/n_bands small) the banded self-join degenerates to ~N^2 /
    2^band_bits candidate ROWS each carrying two vectors — orders of
    magnitude more expensive than the same N^2 dot products as BLAS
    matmuls (measured 110 s -> ~4 s at 20k x 64 on 32 cores). Results
    are identical pair-for-pair, bit-for-bit.

    mode='banded' keeps the classic sketch -> banded candidate join ->
    exact verify plan: the right shape only when band keys are wide
    enough to be selective (band_bits >> log2(N)), where candidate
    count << N^2 makes it cheaper than any full scorer."""
    assert max_hamming <= n_bands - 1
    band_bits = bits // n_bands
    band_mask = (1 << band_bits) - 1
    if mode == "auto":
        mode = "block"
    if mode == "block":
        import numpy as np

        masks = np.array(
            [band_mask << (band_bits * j) for j in range(n_bands)],
            dtype=np.int64,
        )
        return _blocked_pairs_arrow(
            df, threshold, id_col, vec_col, n_blocks, band_masks=masks,
            bits=bits,
        )
    if mode != "banded":
        raise ValueError(f"unknown mode {mode!r}")
    # a small single-split input would pin the sketch to one core
    # (no-op when the scan is already wide)
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    q = _with_lsh_sketch(_with_quantized(df, id_col, vec_col), bits)
    banded = q.select(
        "_id", "_q", "_norm",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.col("_sk").bitwiseAND(
                    F.lit(band_mask << (band_bits * j))
                ).alias("bval"),
            )
            for j in range(n_bands)
        ])).alias("b"),
    ).select("_id", "_q", "_norm", "b.band", "b.bval")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bval") == F.col("b.bval"))
               & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.col("a._q").alias("_qa"), F.col("b._q").alias("_qb"),
            F.col("a._norm").alias("_na"), F.col("b._norm").alias("_nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "cosine",
            cosine_from_quantized(
                idot(F.col("_qa"), F.col("_qb")), F.col("_na"), F.col("_nb")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked matrix products —
    the scale path for the same semantics as cosine_near_dup_pairs.

    The reference's TPT-leaf all-pairs build scores every pair inside a
    bounded leaf (NeighborhoodGraph.h:328-442); here rows hash into
    n_blocks blocks (default: adaptive_n_blocks — sized to the cluster,
    not a constant), every unordered block pair becomes one Arrow kernel
    task, and inside the task the pairwise dots are ONE exact int64
    matmul (no per-pair expression evaluation, no N^2-row join
    materialization). Each row replicates n_blocks times; per-task memory
    is (N/n_blocks)^2 doubles.

    Output is bit-identical to the expression path: integer dots and
    norms, cosine = dot / (sqrt(na)*sqrt(nb)) in IEEE float64 (raw
    floats ship to the kernel; vecarrow.np_quantize is the exact HALF_UP
    twin of the JVM quantize expression)."""
    return _blocked_pairs_arrow(df, threshold, id_col, vec_col, n_blocks)


# ---------------------------------------------------------------------------
# IVF (inverted-file) bucketed search — the SPANN shape
# ---------------------------------------------------------------------------

def select_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic head selection: the n_centroids rows with the
    smallest md5(id) — a seeded uniform sample, the moral equivalent of
    the reference's SelectHead ratio sampling (SPANNIndex.cpp:901-938).
    md5 (not xxhash64) so the DuckDB oracle can replicate the selection
    byte-for-byte and the whole IVF pipeline becomes oracle-checkable.

    orderBy().limit() compiles to TakeOrdered (distributed per-partition
    top-k + small merge) — NOT a global row_number window, which would
    funnel the whole corpus through one partition at scale.
    """
    return (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def _collect_centroids(centroids: DataFrame):
    """Centroid table -> (ids ascending, quantized int64 matrix, norms).

    Centroids are tiny by construction (the head set); they ride to every
    task inside the Arrow-kernel closure — the reference's in-memory head
    index (SPANNIndex.cpp:293-341). Ascending-id order makes numpy's
    first-max argmax identical to the (cosine DESC, id ASC) tiebreak."""
    import numpy as np

    # Quantize with the JVM expression (HALF_UP round), NOT np.round
    # (HALF_EVEN): the matrix must match the scoring path and the DuckDB
    # oracle bit-for-bit.
    rows = sorted(
        centroids.select(
            "centroid_id", quantize(F.col("centroid_vec")).alias("_cq")
        ).collect(),
        key=lambda r: r["centroid_id"],
    )
    ids = [r["centroid_id"] for r in rows]
    mat = np.array([r["_cq"] for r in rows], dtype=np.int64)
    norms = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    return ids, mat, norms


def _nearest_centroid_kernel(cent_ids, cent_mat, cent_norms, nprobe: int):
    """Per Arrow batch: exact int64 matmul against the centroid matrix,
    cosine = dot/(sqrt(na)*sqrt(nb)) in IEEE float64 (bit-identical to
    the expression/DuckDB form), top-nprobe by (cosine DESC, id ASC)."""
    import numpy as np

    def top(X: "np.ndarray"):
        # X: (n, dim) int64 quantized vectors -> (n, nprobe) centroid ids
        norms = np.sqrt((X * X).sum(axis=1).astype(np.float64))
        dots = exact_int_matmul(X, cent_mat.T)              # exact int64
        cos = dots / (norms[:, None] * cent_norms[None, :])
        if nprobe == 1:
            # first-max == lowest centroid id on ties (ids ascending)
            return np.asarray(cent_ids)[np.argmax(cos, axis=1)][:, None]
        order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
        return np.asarray(cent_ids)[order]

    return top


def _replica_assign_kernel(cent_ids, cent_mat, cent_norms,
                           replica_count: int):
    """Per Arrow batch: RNG-pruned multi-assignment to up to
    `replica_count` head partitions — the reference's RNGSelection over
    the nearest-head candidates (VectorIndex.cpp:1144-1254;
    ExtraStaticSearcher.h:735-753; ReplicaCount=8 in
    SPANN/ParameterDefinitionList.h:88). Candidate heads are the
    replica_count nearest (cosine DESC, id ASC); candidate j is accepted
    unless an already-accepted head l occludes it —
    cosine(head_l, head_j) > cosine(v, head_j) — the same occlusion rule
    as graph.rng_prune. Boundary vectors land in every un-occluded
    nearby posting, which is what buys recall at low nprobe and makes
    posting truncation survivable.

    The head×head cosine matrix is n_cent² float64 built once in the
    closure (8 MB at 1024 heads — the head set is small by construction).
    Returns (row_indices, buckets, replica_rank) flattened arrays."""
    import numpy as np

    # a vector cannot replicate to more heads than exist — clamp, so a
    # tiny head set (or one shrunk by ivf_merge below the persisted
    # meta replica_count) degrades to fewer copies instead of an
    # IndexError in the Arrow worker (order has min(n_cent, R) columns)
    R = min(replica_count, len(cent_ids))
    ids = np.asarray(cent_ids)
    # bit-identical to the scoring path: exact int64 dots, sqrt-double
    # norms, IEEE divide — so the DuckDB oracle replicates occlusion
    cent_cos = exact_int_matmul(cent_mat, cent_mat.T) / (
        cent_norms[:, None] * cent_norms[None, :]
    )

    def assign(X: "np.ndarray"):
        n = len(X)
        norms = np.sqrt((X * X).sum(axis=1).astype(np.float64))
        dots = exact_int_matmul(X, cent_mat.T)              # exact int64
        cos = dots / (norms[:, None] * cent_norms[None, :])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :R]  # (n, R)
        cosc = np.take_along_axis(cos, order, axis=1)
        accept = np.zeros((n, R), dtype=bool)
        accept[:, 0] = True
        for j in range(1, R):
            occ = np.zeros(n, dtype=bool)
            for l in range(j):
                occ |= accept[:, l] & (
                    cent_cos[order[:, l], order[:, j]] > cosc[:, j]
                )
            accept[:, j] = ~occ
        rows, cols = np.nonzero(accept)     # row-major: rank order kept
        buckets = ids[order[rows, cols]]
        rank = np.cumsum(accept, axis=1)[rows, cols]
        return rows.astype(np.int64), buckets, rank.astype(np.int32)

    return assign


def assign_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replica_count: int = 1,
) -> DataFrame:
    """Nearest-centroid assignment (reference J1, VectorIndex.cpp:
    1144-1254) with ZERO shuffle: quantization stays a JVM expression
    (HALF_UP round, identical to the scoring path), then one numpy matmul
    per Arrow batch computes the argmax — no corpus×centroid join
    materialized, no per-row window. Adds a `bucket` column; write with
    .partitionBy('bucket') to get partition-pruned probes.

    With replica_count > 1 each row fans out to up to that many
    RNG-pruned head buckets (the reference's ReplicaCount multi-
    assignment, see _replica_assign_kernel) and the output additionally
    carries `replica_rank` (1 = nearest accepted head) — its presence is
    how probes know to dedupe candidates."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    cent_ids, cent_mat, cent_norms = _collect_centroids(centroids)
    bucket_type = centroids.schema["centroid_id"].dataType
    with_q = corpus.withColumn("__q", quantize(F.col(vec_col)))

    if replica_count <= 1:
        top = _nearest_centroid_kernel(cent_ids, cent_mat, cent_norms, 1)
        out_schema = StructType(
            list(corpus.schema.fields) + [StructField("bucket", bucket_type)]
        )
        out_names = [f.name for f in out_schema.fields]

        def run(batches):
            for batch in batches:
                X = list_to_matrix(batch.column("__q"), np.int64)
                if len(X) == 0:
                    buckets = np.array([], dtype=np.int64)
                else:
                    buckets = top(X)[:, 0]
                yield pa.RecordBatch.from_arrays(
                    [batch.column(n) for n in out_names[:-1]]
                    + [pa.array(buckets)],
                    names=out_names,
                )

        return with_q.mapInArrow(run, schema=out_schema)

    assign = _replica_assign_kernel(
        cent_ids, cent_mat, cent_norms, replica_count)
    out_schema = StructType(
        list(corpus.schema.fields)
        + [StructField("bucket", bucket_type),
           StructField("replica_rank", IntegerType())]
    )
    out_names = [f.name for f in out_schema.fields]

    def run_rep(batches):
        for batch in batches:
            X = list_to_matrix(batch.column("__q"), np.int64)
            if len(X) == 0:
                continue
            rows, buckets, rank = assign(X)
            idx = pa.array(rows, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(n).take(idx) for n in out_names[:-2]]
                + [pa.array(buckets), pa.array(rank, pa.int32())],
                names=out_names,
            )

    return with_q.mapInArrow(run_rep, schema=out_schema)


def _probe_pairs_np(X, cent_ids, cent_mat, cent_norms, nprobe: int,
                    max_dist_ratio: float | None):
    """(row_indices, buckets) for a quantized query matrix — the pure
    numpy core shared by the Arrow probe kernels and the driver-side
    small-batch fast path (bit-identical: exact int64 dots, IEEE
    float64 cosine, stable argsort, the reference's adaptive d2 <=
    d2_first * ratio^2 cutoff)."""
    import numpy as np

    ids = np.asarray(cent_ids)
    vsq = (X * X).sum(axis=1)
    norms = np.sqrt(vsq.astype(np.float64))
    dots = exact_int_matmul(X, cent_mat.T)
    cos = dots / (norms[:, None] * cent_norms[None, :])
    order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
    if max_dist_ratio is None:
        n, m = order.shape
        rows = np.repeat(np.arange(n, dtype=np.int64), m)
        return rows, ids[order].reshape(-1)
    cent_sq = (cent_mat.astype(np.int64) ** 2).sum(axis=1)
    d2 = (vsq[:, None] + cent_sq[order]
          - 2 * np.take_along_axis(dots, order, axis=1)
          ).astype(np.float64)
    keep = d2 <= d2[:, :1] * (float(max_dist_ratio) ** 2)
    keep[:, 0] = True              # the nearest head always probes
    rows, cols = np.nonzero(keep)
    return rows.astype(np.int64), ids[order[rows, cols]]


def _probe_buckets(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_dist_ratio: float | None = None,
) -> DataFrame:
    """(query_id, bucket) — the nprobe nearest centroids per query, via
    the same Arrow kernel (no join, no window).

    `max_dist_ratio` is the reference's adaptive probe cutoff
    (SPANNIndex.cpp:324-330): after ranking by cosine, head i is kept
    only while its exact squared L2 distance satisfies
    d2_i <= d2_first * ratio² (d2 = |v|² + |c|² - 2·dot, all int64) — a
    query sitting inside one cluster reads ONE partition instead of
    nprobe, while boundary queries keep their full probe set. None (the
    default) keeps exactly nprobe heads."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    cent_ids, cent_mat, cent_norms = _collect_centroids(centroids)
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__q")
    )
    out_schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("bucket", centroids.schema["centroid_id"].dataType),
    ])

    def run(batches):
        for batch in batches:
            X = list_to_matrix(batch.column("__q"), np.int64)
            if len(X) == 0:
                continue
            rows, buckets = _probe_pairs_np(
                X, cent_ids, cent_mat, cent_norms, nprobe, max_dist_ratio)
            qid = batch.column("query_id")
            if isinstance(qid, pa.ChunkedArray):
                qid = qid.combine_chunks()
            qids = qid.to_numpy(zero_copy_only=False)[rows]
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids), pa.array(buckets)],
                names=["query_id", "bucket"],
            )

    return q.mapInArrow(run, schema=out_schema)


def _score_candidates(
    candidates: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF tail: exact quantized-cosine scoring of (corpus row ×
    probing query) candidates + per-query top-k window."""
    qq = quantize(F.col("_qvec"))
    cq = quantize(F.col(vec_col))
    scored = candidates.withColumn(
        "cosine",
        cosine_from_quantized(idot(cq, qq), idot(cq, cq), idot(qq, qq)),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("vec_id"), "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _is_local_fs_path(path: str) -> bool:
    """True when `path` is a plain local filesystem path (the engine's
    persisted-index design point — see _require_local_index_path)."""
    return "://" not in path and not path.startswith("file:")


def _write_tiny_parquet(spark, out_dir: str, table) -> None:
    """Overwrite `out_dir` with a single-file parquet of a TINY
    driver-resident table. On local paths this is a direct pyarrow
    write — zero Spark jobs, where createDataFrame().coalesce(1).write
    costs two scheduler round-trips per call and these tables (index
    meta, posting sizes) are written on every build/lifecycle verb.
    Non-local paths fall back to the Spark writer."""
    import pyarrow.parquet as pq

    if _is_local_fs_path(out_dir):
        import os
        import shutil

        tmp = out_dir + "._tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"),
                       compression="zstd")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.replace(tmp, out_dir)
        return
    spark.createDataFrame(table.to_pandas()) \
        .coalesce(1).write.mode("overwrite").parquet(out_dir)


def _write_index_meta(spark, path: str, **kv) -> None:
    """One-row parquet of index-level build parameters (replica_count,
    ...) — the moral of the reference's persisted ini config
    (SPANN/ParameterDefinitionList.h): append/probe must quantize and
    fan out exactly as the build did, without the caller re-stating it.
    Written driver-side (_write_tiny_parquet): one row never needs a
    Spark job."""
    import json

    import pyarrow as pa

    _write_tiny_parquet(
        spark, f"{path}/meta",
        pa.table({"meta": pa.array([json.dumps(kv)], pa.string())}))


def read_index_meta(spark, path: str) -> dict:
    """Index meta (empty dict for pre-meta indexes — every knob has a
    back-compatible default)."""
    import json

    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        rows = spark.read.parquet(f"{path}/meta").collect()
    except AnalysisException:
        return {}
    return json.loads(rows[0]["meta"]) if rows else {}


def ivf_build(
    corpus: DataFrame,
    n_centroids: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    replica_count: int = 1,
) -> None:
    """Build and PERSIST the IVF index: bucketed postings written
    partitionBy('bucket') + the centroid table — build once, probe many
    (the reference's BuildIndex/SearchIndex split, SPANNIndex.cpp:309-372).
    Probes then read only their nprobe partitions (partition pruning).

    Pass `centroids` to pin the head set (rebuild-for-comparison and the
    incremental lifecycle keep heads FIXED, like the reference's update
    path — reassignment happens against the existing heads,
    ExtraDynamicSearcher.h:637-894).

    replica_count > 1 multi-assigns each vector to up to that many
    RNG-pruned head postings (the reference's ReplicaCount=8 closure,
    ExtraStaticSearcher.h:735-753): postings gain a `replica_rank`
    column, probes dedupe candidates, and boundary vectors survive both
    low-nprobe probing and posting truncation."""
    if centroids is None:
        centroids = select_centroids(corpus, n_centroids, id_col, vec_col)
    bucketed = assign_buckets(corpus, centroids, id_col, vec_col,
                              replica_count=replica_count)
    _write_postings(bucketed, f"{path}/postings", "overwrite")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    _write_index_meta(corpus.sparkSession, path,
                      replica_count=int(replica_count))


def _write_postings(bucketed: DataFrame, postings_path: str,
                    mode: str) -> None:
    """Shuffle by bucket, then write partitionBy(bucket): each task owns
    whole buckets, so a posting is ONE contiguous file instead of a
    file per (writing task × bucket) — measured 5× faster at bench
    scale and the layout the probe scan wants (a pruned bucket read is
    a sequential file read, the reference's posting-list contiguity,
    ExtraStaticSearcher.h:260-330). The shuffle moves each row once —
    the same reorganization any posting-list build pays.

    Overwrite mode (build / compact / merge / reassign rewrites) also
    refreshes the persisted posting-size table INSIDE the written
    directory, so the crash-safe directory swap carries sizes and
    postings as one atomic unit. Append sites refresh their touched
    buckets themselves (they know the bucket list; a full recount per
    micro-batch would grow with index size)."""
    bucketed.repartition("bucket").write.mode(mode) \
        .partitionBy("bucket").parquet(postings_path)
    if mode == "overwrite":
        _refresh_posting_sizes(bucketed.sparkSession, postings_path)


def _refresh_posting_sizes(spark, postings_path: str,
                           buckets=None) -> None:
    """Maintain `{postings_path}/_sizes` — the persisted bucket -> RAW
    posting row count table, the analog of the reference's in-memory
    m_postingSizes (SPANN keeps posting lengths resident so a search
    never scans the store to learn them; ExtraDynamicSearcher.h updates
    them at append/split/merge). The underscore prefix makes the
    directory invisible to the postings parquet scan and to partition
    discovery, and it rides the postings directory through the
    crash-safe compact/merge swaps automatically.

    With `buckets`, only those buckets are recounted (a footer-level
    count — no data columns materialize) and merged with the existing
    table; the recount is from the ACTUAL postings, never an increment,
    so a replayed append self-heals a crash between the postings write
    and the sizes write. Without `buckets`, full recount (build/rewrite
    paths).

    On local index paths the recount reads parquet FOOTER row counts of
    the bucket=<v>/ partition directories directly on the driver (the
    counts are metadata the write already produced — VERDICT r6 #2/#3:
    no second pass over the postings is information-theoretically
    needed) and the sizes table is a driver-side pyarrow write: zero
    Spark jobs, vs a groupBy+collect job plus a coalesce(1) write job
    per lifecycle verb before. Non-local paths keep the Spark path."""
    import pyarrow as pa
    from pyspark.errors.exceptions.captured import AnalysisException

    sizes_path = f"{postings_path}/_sizes"
    old = None
    if buckets is not None:
        try:
            old = _read_sizes_table(spark, sizes_path)
        except (AnalysisException, OSError):
            old = None   # pre-sizes index: fall through to full recount
    bset = None if old is None else sorted({int(b) for b in buckets})
    fresh = _footer_bucket_counts(postings_path, bset) \
        if _is_local_fs_path(postings_path) else None
    if fresh is None:   # non-local or unexpected layout: Spark recount
        post = spark.read.parquet(postings_path).select("bucket")
        if bset is not None:
            post = post.filter(F.col("bucket").isin(bset))
        fresh = {int(r["bucket"]): int(r["n"])
                 for r in post.groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    if old is None:
        counts = fresh
    else:
        counts = {b: n for b, n in old.items() if b not in set(bset)}
        counts.update(fresh)
    items = sorted(counts.items())
    _write_tiny_parquet(spark, sizes_path, pa.table({
        "bucket": pa.array([b for b, _ in items], pa.int64()),
        "n": pa.array([n for _, n in items], pa.int64()),
    }))


def _footer_bucket_counts(postings_path: str, buckets=None):
    """bucket -> row count from the parquet footers of a
    partitionBy('bucket') layout (`bucket=<v>/*.parquet`): the counts
    the postings write already recorded, read driver-side in
    milliseconds. `buckets` restricts to those partition dirs. Returns
    None when the layout isn't the expected one (caller falls back to
    a Spark recount)."""
    import os

    import pyarrow.parquet as pq

    try:
        entries = os.scandir(postings_path)
    except OSError:
        return None
    counts: dict[int, int] = {}
    try:
        for ent in entries:
            if not ent.name.startswith("bucket="):
                continue
            try:
                b = int(ent.name[len("bucket="):])
            except ValueError:
                return None          # non-integer partition value
            if buckets is not None and b not in buckets:
                continue
            n = 0
            try:
                for f in os.scandir(ent.path):
                    if f.name.endswith(".parquet"):
                        n += pq.ParquetFile(f.path).metadata.num_rows
            except OSError:
                return None
            if n:
                counts[b] = n
            # n == 0 (or a vanished dir): omit the bucket, exactly as
            # the Spark groupBy recount emits no row for an empty bucket
    finally:
        entries.close()
    return counts


def _read_sizes_table(spark, sizes_path: str) -> dict:
    """The persisted sizes table as a dict — pyarrow driver read on
    local paths (no Spark job), Spark read otherwise."""
    if _is_local_fs_path(sizes_path):
        import pyarrow.parquet as pq

        tbl = pq.read_table(sizes_path)
        return {int(b): int(n) for b, n in
                zip(tbl.column("bucket").to_pylist(),
                    tbl.column("n").to_pylist())}
    return {int(r["bucket"]): int(r["n"])
            for r in spark.read.parquet(sizes_path).collect()}


def read_posting_sizes(spark, path: str) -> dict:
    """bucket -> RAW posting row count from the persisted `_sizes`
    table (see _refresh_posting_sizes). RAW means tombstoned rows still
    count until a compact/merge/split rewrites their posting — they
    occupy posting pages, and the reference's m_postingSizes likewise
    shrinks only when the posting itself is rewritten. Pre-sizes
    indexes fall back to a one-off postings aggregate."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return _read_sizes_table(spark, f"{path}/postings/_sizes")
    except (AnalysisException, OSError):
        return {int(r["bucket"]): int(r["n"]) for r in
                spark.read.parquet(f"{path}/postings").select("bucket")
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n")).collect()}


# ---------------------------------------------------------------------------
# Incremental index maintenance (reference T2 append / T3 tombstone /
# T5 merge-compact composed onto the persisted layout: SPANN/Index.h:
# 283-335 AddIndex/DeleteIndex, ExtraDynamicSearcher.h:637-1146 split/
# merge/reassign)
# ---------------------------------------------------------------------------

def append_postings_rows(spark, path: str, rows: DataFrame, id_col: str,
                         idempotent: bool) -> None:
    """Append assigned/encoded rows to `{path}/postings`. With
    `idempotent=True` the incoming (id, bucket) pairs first anti-join
    the rows already present in the TOUCHED bucket partitions (static
    partition pruning via a driver-collected bucket IN-list — bounded by
    batch_size x replica_count and by the head count, like the other
    documented bounded collects), so a replayed micro-batch or a
    partially committed append (FileOutputCommitter task-level commits
    can land a subset of files before a job failure) appends only the
    rows still missing — assignment against pinned heads is
    deterministic, so a replay re-derives exactly the same pairs.

    Scope: the guard is exact only while the HEAD SET is unchanged
    between the original append and the replay. After a split/merge the
    same vector re-assigns against the evolved centroid table and may
    land on a different head than the one its row moved to, so the pair
    anti-join would re-append it — the streaming ingest handler's
    per-batch marker (streaming.jobs._ann_ingest_handler) exists
    precisely to keep replays on the unchanged-head side of that line.
    The guard checks RAW postings (not tombstone-filtered):
    re-inserting a tombstoned id still requires a compact first, per the
    ivf_delete contract.

    Both paths end by recounting the TOUCHED buckets into the persisted
    size table (_refresh_posting_sizes) — a recount from the actual
    postings, not an increment, so a replayed batch also repairs sizes
    a crashed earlier attempt left stale."""
    rows = rows.persist()
    try:
        touched = [r["bucket"]
                   for r in rows.select("bucket").distinct().collect()]
        if not touched:
            return
        if idempotent:
            existing_pairs = (
                spark.read.parquet(f"{path}/postings")
                .filter(F.col("bucket").isin(touched))
                .select(id_col, "bucket")
            )
            fresh = rows.join(existing_pairs, [id_col, "bucket"], "anti")
            _write_postings(fresh, f"{path}/postings", "append")
        else:
            _write_postings(rows, f"{path}/postings", "append")
        _refresh_posting_sizes(spark, f"{path}/postings", buckets=touched)
    finally:
        rows.unpersist()


def ivf_append(
    spark,
    path: str,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    idempotent: bool = False,
) -> None:
    """Append new vectors to a persisted index: assign against the
    EXISTING heads (zero-shuffle Arrow kernel) and append only the
    touched bucket partitions — the corpus already indexed is never
    rewritten or rescanned. Replica fan-out follows the index meta, so
    appended vectors replicate exactly as the build did. `idempotent`
    makes the append replay-safe (see append_postings_rows) — the
    streaming ingest path's exactly-once guard.

    Raises on a flat append into an ivf_pq index (its postings carry PQ
    codes; appending code-less rows would surface as NULL `codes` that
    sort NULLS FIRST into every ADC candidate set — silent corruption).
    Use ivfpq.ivf_pq_append there."""
    existing = spark.read.parquet(f"{path}/postings")
    if "codes" in existing.columns:
        raise ValueError(
            f"{path} is an ivf_pq index (postings carry a `codes` "
            "column); flat ivf_append would write NULL codes — use "
            "ivfpq.ivf_pq_append, which encodes against the persisted "
            "codebooks")
    rep = int(read_index_meta(spark, path).get("replica_count", 1))
    centroids = spark.read.parquet(f"{path}/centroids")
    bucketed = assign_buckets(vectors, centroids, id_col, vec_col,
                              replica_count=rep)
    append_postings_rows(spark, path, bucketed, id_col, idempotent)


def ivf_delete(spark, path: str, keys: DataFrame,
               id_col: str = "vec_id") -> None:
    """Tombstone ids: an O(|keys|) append to the tombstone log; probes
    anti-join it at read time (merge-on-read). A later re-insert of a
    tombstoned id needs a compact first — the log is id-based, like the
    reference's delete set (VectorIndex.cpp:1169-1172)."""
    keys.select(id_col).write.mode("append") \
        .parquet(f"{path}/tombstones")


def read_postings(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """Postings minus tombstones (merge-on-read). The tombstone set is
    broadcast — bounded by compaction cadence, exactly the reference's
    in-memory delete bitset assumption."""
    from pyspark.errors.exceptions.captured import AnalysisException

    post = spark.read.parquet(f"{path}/postings")
    try:
        tomb = spark.read.parquet(f"{path}/tombstones")
    except AnalysisException:
        return post
    return post.join(
        F.broadcast(tomb.select(id_col).distinct()), id_col, "anti"
    )


def _require_local_index_path(path: str, op: str) -> None:
    """The compact/split swap is driver-coordinated directory renames —
    atomic on a local filesystem, NOT on HDFS/S3 (where the right tool is
    a manifest-pointer flip, sources/manifest.py). Fail loudly instead of
    writing postings_compacting and then raising mid-swap."""
    if "://" in path or path.startswith("file:"):
        raise ValueError(
            f"{op} swaps postings with local-filesystem renames; "
            f"index path {path!r} looks like a remote/URI path. Run "
            f"{op} against a local path (or adapt the swap to a "
            "manifest pointer flip for object stores).")


def _recover_swap(path: str, name: str) -> None:
    """Roll a crashed directory swap forward or back (idempotent, run at
    ivf_compact/ivf_split entry). The swap sequence is
    rename({name}→retired); rename(compacting→{name}); rmtree(retired)
    — a crash between any two steps leaves exactly one of the states
    below, each with a full live copy somewhere."""
    import os
    import shutil

    old = f"{path}/{name}"
    tmp = f"{path}/{name}_compacting"
    retired = f"{path}/{name}_retired"
    if os.path.isdir(retired):
        if not os.path.isdir(old):
            if os.path.isdir(tmp):
                # died between the two renames: finish the swap
                os.rename(tmp, old)
            else:
                # no new copy written: restore the retired one
                os.rename(retired, old)
        if os.path.isdir(retired):
            shutil.rmtree(retired)       # swap complete; drop old copy
    elif os.path.isdir(tmp):
        shutil.rmtree(tmp)               # partial write, never swapped


def _swap_dir(path: str, name: str) -> None:
    """rename-rename-delete swap of {name}_compacting into {name}: no
    instant in the swap has ZERO live copies (rmtree-then-rename would
    lose the data if the driver died between the two)."""
    import os
    import shutil

    old = f"{path}/{name}"
    os.rename(old, f"{path}/{name}_retired")
    os.rename(f"{path}/{name}_compacting", old)
    shutil.rmtree(f"{path}/{name}_retired")


def _recover_compact_swap(path: str) -> None:
    # Marker-gated tombstone reconciliation MUST run while the swap
    # state is still observable (before _recover_swap destroys it): the
    # marker says "postings_compacting folds the current tombstone log",
    # so if the swap reached the point of no return (old postings
    # retired, or fully swapped) the folded copy is what recovery keeps
    # and the log is stale — clearing it here closes the crash window
    # between _swap_dir and rmtree(tombstones), where a stale log would
    # silently hide any later re-insert of the folded ids until the
    # next compact.
    import os
    import shutil

    marker = f"{path}/tombstones_folded"
    if os.path.exists(marker):
        retired = os.path.isdir(f"{path}/postings_retired")
        tmp = os.path.isdir(f"{path}/postings_compacting")
        if retired or not tmp:
            # swap started or completed -> the folded postings survive
            # recovery (roll-forward keeps tmp; completed keeps new)
            _recover_swap(path, "postings")
            shutil.rmtree(f"{path}/tombstones", ignore_errors=True)
        # else: crash before the swap began — old postings stay live,
        # the log is still authoritative; _recover_swap discards tmp
        os.unlink(marker)
    _recover_swap(path, "postings")
    _recover_swap(path, "centroids")


def _swap_postings_clearing_tombstones(path: str) -> None:
    """Swap postings_compacting live AND retire the tombstone log as one
    crash-safe unit. The caller guarantees postings_compacting was built
    from tombstone-folded rows; the marker written before the swap lets
    entry recovery (_recover_compact_swap) finish the log removal if the
    process dies between the swap and the rmtree."""
    import os
    import shutil

    marker = f"{path}/tombstones_folded"
    open(marker, "w").close()
    _swap_dir(path, "postings")
    shutil.rmtree(f"{path}/tombstones", ignore_errors=True)
    os.unlink(marker)


def ivf_compact(
    spark,
    path: str,
    max_posting_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cap_order: str = "distance",
) -> None:
    """Rewrite the postings without tombstoned rows and clear the log
    (the reference's merge path). With `max_posting_size`, each bucket
    keeps the `max_posting_size` rows NEAREST its head — the window
    orders by exact quantized squared-L2 distance to the broadcast
    centroid (id tiebreak), matching the reference's distance-ordered
    posting truncation (ExtraStaticSearcher.h:781-846). On a
    replica-built index (replica_count > 1) an evicted row normally
    survives in its other replica postings — the property that makes
    the reference's cap recall-safe; on a single-assignment index the
    cap permanently drops the evicted vectors (prefer ivf_split there).
    cap_order='hash' keeps the old xxhash64 eviction order (the
    controlled baseline the tests compare against).

    The swap is a local-filesystem directory rename coordinated by the
    driver (validated — object-store paths raise); a half-completed
    swap from a crashed run is rolled forward/back at entry."""
    _require_local_index_path(path, "ivf_compact")
    _recover_compact_swap(path)
    _sweep_orphan_partitions(spark, path)
    post = read_postings(spark, path, id_col)
    if max_posting_size is not None:
        if cap_order == "distance":
            cent = spark.read.parquet(f"{path}/centroids").select(
                F.col("centroid_id").alias("bucket"),
                quantize(F.col("centroid_vec")).alias("__cq"),
            )
            # rotated (OPQ) indexes store heads in head space — the cap
            # distance must be measured there too (same invariant as
            # split/merge), or the ordering silently mixes spaces
            post, wv = _index_work_vec(spark, path, post, vec_col)
            cq = quantize(F.col(wv))
            d2 = (idot(cq, cq) + idot(F.col("__cq"), F.col("__cq"))
                  - 2 * idot(cq, F.col("__cq")))
            w = Window.partitionBy("bucket").orderBy(
                d2.asc(), F.col(id_col).asc())
            post = (
                post.join(F.broadcast(cent), "bucket")
                .withColumn("__pn", F.row_number().over(w))
                .filter(F.col("__pn") <= max_posting_size)
                .drop("__pn", "__cq")
            )
            if wv != vec_col:
                post = post.drop(wv)
        elif cap_order == "hash":
            w = Window.partitionBy("bucket").orderBy(
                F.xxhash64(F.col(id_col)), F.col(id_col)
            )
            post = (
                post.withColumn("__pn", F.row_number().over(w))
                .filter(F.col("__pn") <= max_posting_size)
                .drop("__pn")
            )
        else:
            raise ValueError(f"unknown cap_order {cap_order!r}")
    _write_postings(post, f"{path}/postings_compacting", "overwrite")
    _swap_postings_clearing_tombstones(path)
    # join-mode probe side tables ({path}/_probes/<uuid>) are transient
    # per-wave artifacts; compaction is their janitor
    cleanup_probe_tables(path)


def _sweep_orphan_partitions(spark, path: str) -> None:
    """Delete postings partitions whose bucket is absent from the
    centroid table. The centroid table is the source of truth for live
    buckets (probes only ever reach centroid-derived buckets), so an
    orphan partition is a crashed ivf_split that swapped centroids but
    died before removing the split source — the rows already live in
    the new sub-buckets. Run at compact/split entry so full-postings
    reads never resurrect them."""
    import os
    import shutil

    post_dir = f"{path}/postings"
    if not os.path.isdir(post_dir):
        return
    live = {r["centroid_id"]
            for r in spark.read.parquet(f"{path}/centroids")
            .select("centroid_id").collect()}
    removed = []
    for d in os.listdir(post_dir):
        if not d.startswith("bucket="):
            continue
        try:
            b = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if b not in live:
            shutil.rmtree(os.path.join(post_dir, d))
            removed.append(b)
    if removed:
        _refresh_posting_sizes(spark, post_dir, buckets=removed)


def _index_work_vec(spark, path: str, df: DataFrame, vec_col: str):
    """(df', work_col) for head-set maintenance: rotated (OPQ) indexes
    keep their HEADS in the rotated space while postings carry the
    original embedding, so split/merge must cluster and assign in head
    space — append a rotated column through the stored R
    (ivfpq._read_rotation) and work on that. Identity for flat/plain-PQ
    indexes."""
    if read_index_meta(spark, path).get("rotated"):
        from sptag_spark.operators.ivfpq import _read_rotation
        from sptag_spark.operators.pq import opq_rotate_col

        return (opq_rotate_col(df, _read_rotation(spark, path),
                               vec_col, "__hs"), "__hs")
    return df, vec_col


def ivf_split(
    spark,
    path: str,
    max_posting_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rounds: int = 8,
) -> int:
    """Split over-limit postings in place (the reference's head-set
    evolution, ExtraDynamicSearcher.h:637-894 SplitAsync): every bucket
    with more than `max_posting_size` rows is 2-means-clustered
    (deterministic md5-ordered init, exact quantized math), each half
    gets a NEW head — the row nearest its cluster center, labeled with a
    fresh bucket id — and only that bucket's partition is rewritten; the
    centroid table swaps crash-safely and gains the two sub-heads while
    retiring the old one. Rounds repeat until every posting is within
    the limit (a 4× bucket needs two rounds). Vectors are never dropped
    — the lossless alternative to a compaction cap on single-copy
    indexes. Returns the number of split operations performed.

    Scope note vs the reference: the split is local (only the over-limit
    bucket's rows re-partition between its two sub-heads); the
    reference's follow-up neighborhood reassignment of boundary vectors
    in ADJACENT postings (ExtraDynamicSearcher.h:895-1146) is a
    separate maintenance pass here — ivf_reassign restores the exact
    pinned-rebuild placement at compact cadence. Between splits and
    reassigns, probes see the enlarged head set immediately and the
    recall effect is second-order (gated in tests).

    Crash safety: new sub-partitions are appended first (unreferenced by
    the centroid table until the swap, hence invisible to probes), the
    centroid swap is rename-rename-delete with entry recovery, and a
    crash before the old partition's deletion leaves an orphan that the
    entry-time sweep removes.

    On a rotated (OPQ) index the 2-means, head selection, and the stored
    head vectors all live in the HEAD space (vec @ R) — the centroid
    table must stay single-space or probes would rank rotated queries
    against unrotated heads."""
    import shutil

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    _require_local_index_path(path, "ivf_split")
    _recover_compact_swap(path)
    _sweep_orphan_partitions(spark, path)

    n_splits = 0
    for _ in range(max_rounds):
        # size and split LIVE rows only (tombstones excluded, like
        # ivf_merge's trigger): a delete-heavy bucket must not split on
        # its dead weight — raw-count sizing could even elect a
        # tombstoned row as a new head, and a bucket simultaneously
        # over the raw split max and under the live merge min would
        # make a split-then-merge maintenance loop thrash. Rewriting a
        # split bucket from live rows also folds its tombstones in
        # (compact semantics); the log stays for other partitions.
        post = read_postings(spark, path, id_col)
        over = [
            r["bucket"] for r in post.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_posting_size).collect()
        ]
        if not over:
            break
        cents = spark.read.parquet(f"{path}/centroids")
        max_label = cents.agg(F.max("centroid_id")).collect()[0][0]

        # rotated (OPQ) indexes: cluster + pick heads in HEAD space (the
        # centroid table lives there); rows keep the original embedding
        sub0, wv = _index_work_vec(
            spark, path, post.filter(F.col("bucket").isin(over)), vec_col)
        sub = sub0.withColumn("__q", quantize(F.col(wv)))
        out_schema = StructType(
            [f for f in sub0.schema.fields]
            + [StructField("__side", IntegerType()),
               StructField("__is_head", IntegerType())]
        )

        def split_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            import hashlib

            X = np.array(pdf["__q"].tolist(), dtype=np.int64)
            Xf = X.astype(np.float64)
            ids = pdf[id_col].to_numpy()
            md5_order = np.array(sorted(
                range(len(ids)),
                key=lambda i: (hashlib.md5(str(ids[i]).encode())
                               .hexdigest(), ids[i])))
            C = Xf[md5_order[:2]].copy()       # deterministic 2-means init
            for _ in range(10):
                d2 = ((Xf[:, None, :] - C[None, :, :]) ** 2).sum(-1)
                a = d2.argmin(1)               # first-min tiebreak
                for j in range(2):
                    pts = Xf[a == j]
                    if len(pts):
                        C[j] = pts.mean(0)
            # head row per side: nearest to the center, id tiebreak;
            # the two heads must be distinct rows
            d2 = ((Xf[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            order0 = sorted(range(len(ids)), key=lambda i: (d2[i, 0], ids[i]))
            order1 = sorted(range(len(ids)), key=lambda i: (d2[i, 1], ids[i]))
            h0 = order0[0]
            h1 = next(i for i in order1 if i != h0)
            # final side assignment: nearest of the two HEAD ROWS by the
            # engine's quantized-cosine rule (cos DESC, side ASC tie)
            heads = X[[h0, h1]]
            hnorm = np.sqrt((heads * heads).sum(1).astype(np.float64))
            vnorm = np.sqrt((X * X).sum(1).astype(np.float64))
            cos = exact_int_matmul(X, heads.T) / (vnorm[:, None] * hnorm[None, :])
            side = (cos[:, 1] > cos[:, 0]).astype(np.int32)
            side[h0], side[h1] = 0, 1
            out = pdf.drop(columns=["__q"])
            out["__side"] = side
            is_head = np.zeros(len(ids), dtype=np.int32)
            is_head[h0] = 1
            is_head[h1] = 1
            out["__is_head"] = is_head
            return out

        assigned = sub.groupBy("bucket").applyInPandas(
            split_bucket, schema=out_schema).cache()
        # fresh labels, deterministic: (old bucket ASC, side ASC); head
        # vectors are collected from the HEAD-space column so the
        # centroid table stays in one space
        label_rows = sorted(
            (r["bucket"], r["__side"], r[id_col], r[wv])
            for r in assigned.filter(F.col("__is_head") == 1)
            .select("bucket", "__side", id_col, wv).collect()
        )
        labels = {(b, s): max_label + 1 + i
                  for i, (b, s, _, _) in enumerate(label_rows)}
        bucket_type = cents.schema["centroid_id"].dataType
        # pandas→Arrow: the row-list createDataFrame is the slow
        # non-Arrow local-relation path (see _write_index_meta), and
        # this runs up to max_rounds times per split call
        label_df = spark.createDataFrame(
            pd.DataFrame(
                [(b, s, lab) for (b, s), lab in labels.items()],
                columns=["bucket", "__side", "__new_bucket"],
            ),
            schema=StructType([
                StructField("bucket", bucket_type),
                StructField("__side", IntegerType()),
                StructField("__new_bucket", bucket_type),
            ]),
        )
        post_cols = [c for c in post.columns if c != "bucket"]
        rewritten = (
            assigned.join(F.broadcast(label_df), ["bucket", "__side"])
            .select(*post_cols, F.col("__new_bucket").alias("bucket"))
        )
        # 1) append sub-partitions (invisible until the centroid swap)
        _write_postings(rewritten, f"{path}/postings", "append")
        # 2) crash-safe centroid swap: retire split heads, add sub-heads
        new_heads = spark.createDataFrame(
            pd.DataFrame(
                [(labels[(b, s)], list(v)) for (b, s, _, v) in label_rows],
                columns=[f.name for f in cents.schema.fields],
            ),
            schema=cents.schema,
        )
        cents.filter(~F.col("centroid_id").isin(over)).unionByName(
            new_heads
        ).write.mode("overwrite").parquet(f"{path}/centroids_compacting")
        _swap_dir(path, "centroids")
        # 3) drop the split source partitions (orphan-swept on crash)
        for b in over:
            shutil.rmtree(f"{path}/postings/bucket={b}",
                          ignore_errors=True)
        # 4) recount the touched buckets into the size table (the split
        # sources recount to 0 and drop out; the sub-buckets come in)
        _refresh_posting_sizes(
            spark, f"{path}/postings",
            buckets=list(over) + sorted(labels.values()))
        assigned.unpersist()
        n_splits += len(over)
    return n_splits


def ivf_merge(
    spark,
    path: str,
    min_posting_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Retire under-limit heads and fold their rows into the nearest
    SURVIVING postings — the merge-on-underflow half of head-set
    evolution (the reference's SPFresh MergeAsync,
    ExtraDynamicSearcher.h:895-1146), the inverse of ivf_split. Every
    head with fewer than `min_posting_size` LIVE rows (tombstones
    excluded — a delete-heavy bucket is exactly the merge trigger) is
    retired: its rows re-assign top-1 against the surviving heads (the
    build's Arrow argmin kernel; rotated (OPQ) indexes assign in head
    space), PQ codes ride along unchanged (rotation and codebooks are
    pinned), and the head leaves the centroid table so probes never
    select it again. At least one head always survives: if every
    posting is under the limit, the largest (live count DESC, bucket
    ASC tiebreak) is kept.

    On a replicated index a moved copy whose vector already has a copy
    in its target posting is dropped (one copy per (vector, posting) —
    probes dedupe candidates, but posting sizes and the replica
    histogram must not double-count); copies landing on distinct
    surviving heads are kept.

    Implemented as a compaction-class rewrite through the same
    crash-safe postings+centroids swap as ivf_compact (tombstones fold
    in and the log clears) — merge cadence is compact cadence. A crash
    between the postings swap and the centroid swap leaves the retired
    heads pointing at deleted partitions: probes degrade gracefully
    (those heads return no rows) and the next merge entry self-heals —
    the now-empty heads re-qualify as under-limit and retire with
    nothing to move.

    Returns the number of retired heads."""
    _require_local_index_path(path, "ivf_merge")
    _recover_compact_swap(path)
    _sweep_orphan_partitions(spark, path)

    live = read_postings(spark, path, id_col)
    cents = spark.read.parquet(f"{path}/centroids")
    counts = {r["bucket"]: r["n"] for r in live.groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    all_heads = sorted(r["centroid_id"] for r in
                       cents.select("centroid_id").collect())
    under = [b for b in all_heads
             if counts.get(b, 0) < min_posting_size]
    if under and len(under) == len(all_heads):
        keep_head = max(all_heads,
                        key=lambda b: (counts.get(b, 0), -b))
        under = [b for b in under if b != keep_head]
    if not under:
        return 0

    surv_cents = cents.filter(~F.col("centroid_id").isin(under))
    bucket_type = cents.schema["centroid_id"].dataType
    keep = live.filter(~F.col("bucket").isin(under)).withColumn(
        "bucket", F.col("bucket").cast(bucket_type))
    moved = live.filter(F.col("bucket").isin(under)).drop("bucket")
    work, wv = _index_work_vec(spark, path, moved, vec_col)
    reassigned = assign_buckets(work, surv_cents, id_col, wv)
    if wv != vec_col:
        reassigned = reassigned.drop(wv)
    if "replica_rank" in live.columns:
        # copies of one vector from several retiring heads can target
        # the same survivor, and the vector may already live there:
        # keep the nearest-ranked copy per (vector, target), drop
        # collisions with existing copies
        wd = Window.partitionBy(id_col, "bucket").orderBy(
            F.col("replica_rank").asc())
        reassigned = (
            reassigned.withColumn("__mn", F.row_number().over(wd))
            .filter(F.col("__mn") == 1).drop("__mn")
            .join(keep.select(id_col, "bucket"), [id_col, "bucket"],
                  "anti")
        )
    new_post = keep.unionByName(reassigned.select(*keep.columns))
    _write_postings(new_post, f"{path}/postings_compacting", "overwrite")
    _swap_postings_clearing_tombstones(path)
    surv_cents.write.mode("overwrite") \
        .parquet(f"{path}/centroids_compacting")
    _swap_dir(path, "centroids")
    cleanup_probe_tables(path)
    return len(under)


def ivf_reassign(
    spark,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Re-derive every live vector's posting placement against the
    CURRENT centroid table and rewrite the postings — the batch form of
    the reference's post-split/merge neighborhood reassignment
    (ExtraDynamicSearcher.h:895-1146 ReassignAsync: after a split,
    vectors in nearby postings that are now closer to a new sub-head
    move in, and split rows whose true nearest head is elsewhere move
    out). ivf_split is deliberately local (it only re-partitions the
    split bucket's rows between its two sub-heads — its documented
    scope note); a reassign afterwards erases that note: the index
    becomes EXACTLY a pinned-heads rebuild of its live rows (replica
    fan-out re-derived from the meta, assignment in head space on
    rotated indexes, PQ codes riding along untouched — codes depend on
    the pinned codebooks, not the bucket).

    Where the reference reassigns incrementally (its postings are
    in-place NVMe pages, so locality is the whole game), the parquet
    layout's unit of work is a partition rewrite, and reassignment at
    compact cadence is one corpus pass through the same crash-safe
    postings swap as ivf_compact/ivf_merge — tombstones fold in and the
    log clears when a rewrite happens (a no-change reassign returns
    early and leaves compaction to ivf_compact). Returns the size of
    the symmetric difference between old and new (vector, bucket)
    placements (0 = the index already equals its pinned rebuild)."""
    _require_local_index_path(path, "ivf_reassign")
    _recover_compact_swap(path)
    _sweep_orphan_partitions(spark, path)

    live = read_postings(spark, path, id_col)
    cents = spark.read.parquet(f"{path}/centroids")
    rep = int(read_index_meta(spark, path).get("replica_count", 1))
    bucket_type = cents.schema["centroid_id"].dataType

    # one copy per vector (replica copies are identical payloads), then
    # re-derive the full (possibly replicated) fan-out from scratch
    base = live.drop("bucket", "replica_rank") \
        .dropDuplicates([id_col])
    work, wv = _index_work_vec(spark, path, base, vec_col)
    reassigned = assign_buckets(work, cents, id_col, wv,
                                replica_count=rep)
    if wv != vec_col:
        reassigned = reassigned.drop(wv)
    reassigned = reassigned.withColumn(
        "bucket", F.col("bucket").cast(bucket_type)).persist()
    try:
        new_pairs = reassigned.select(id_col, "bucket")
        old_pairs = live.select(id_col, "bucket").withColumn(
            "bucket", F.col("bucket").cast(bucket_type))
        # MULTISET symmetric difference (exceptAll, one job — anti-joins
        # have set semantics and would miss duplicate rows in the SAME
        # (vector, bucket), e.g. a non-idempotent append replayed
        # against pinned heads): any stale extra copy triggers the
        # rewrite, and the rewrite is built from the per-id deduped
        # base, so reassign also clears such duplicates
        changed = (
            new_pairs.exceptAll(old_pairs)
            .unionAll(old_pairs.exceptAll(new_pairs)).count()
        )
        if changed == 0:
            return 0
        _write_postings(reassigned, f"{path}/postings_compacting",
                        "overwrite")
    finally:
        reassigned.unpersist()
    _swap_postings_clearing_tombstones(path)
    cleanup_probe_tables(path)
    return changed


def cleanup_probe_tables(path_or_scratch_dir: str) -> None:
    """Delete join-mode probe side tables. Pass the index path or the
    explicit `probe_scratch_dir` a wave used — either way ONLY the
    `_probes` child is removed (probe tables are always written under
    it), so a scratch dir shared with other artifacts is never touched
    beyond the tables this machinery wrote. Library callers probing in
    a loop should call this after materializing each wave's results
    instead of waiting for compact; concurrent waves that must not see
    each other's cleanup should use distinct scratch dirs."""
    import os
    import shutil

    shutil.rmtree(os.path.join(path_or_scratch_dir, "_probes"),
                  ignore_errors=True)


def replica_histogram(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """(copies, n_vectors): how many live posting copies each vector has
    — the reference's replica-count stat (A6). On a healthy replicated
    index every vector has >= 1 copy; after aggressive capping the
    1-copy bucket is the at-risk population."""
    return (
        read_postings(spark, path, id_col)
        .groupBy(id_col).agg(F.count(F.lit(1)).alias("copies"))
        .groupBy("copies").agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("copies")
    )


def _exact_partials_cogrouped(
    post_kern: DataFrame,
    probes: DataFrame,
    q_raw: DataFrame,
    k: int,
    id_col: str,
    exclude_self: bool = True,
) -> DataFrame:
    """Per-BUCKET exact-cosine scoring with per-query partial top-`k` —
    the flat-index twin of ivfpq._adc_partials_cogrouped (the
    reference's ProcessPosting shape, ExtraStaticSearcher.h:260-411).
    One int64 matmul per (bucket x probing-query) block, float64
    cosine identical to the JVM expression (dot / (sqrt(na)*sqrt(nb)),
    same op order), stable argsort over id-presorted columns for the
    exact (cosine DESC, id ASC) partial order. Downstream shuffles
    carry only ~Q x nprobe x k rows instead of Q x nprobe x |posting|
    candidate rows through interpreted HOF scoring (CLAUDE.md rules
    10/13). Emits (query_id, id, _dot, _na); the caller
    recomputes cosine with the shared JVM expression so global
    ordering is bit-identical to the driver path.

    Both sides ship RAW floats (`__pe` postings, `__qe` queries); the
    kernel quantizes with vecarrow.np_quantize — the bit-identical
    HALF_UP twin of the JVM expression — for half the shuffle bytes
    and no per-row JVM array allocation (CLAUDE.md rule 13). `_nb`
    (per-QUERY norm) is joined back by the caller from a broadcast
    frame instead of riding every candidate row. Zero-norm vectors
    (NaN cosine) sort last here but first under Spark's NaN-greatest
    DESC — as with the expression path, zero vectors are out of
    contract.

    Arrow-native (applyInArrow + vecarrow zero-copy ingestion, like
    ivfpq._adc_partials_cogrouped); the dot-product matmul runs as
    float64 BLAS whenever max|q| * max|pv| * dim < 2^53 proves every
    partial sum exactly representable (numpy's int64 matmul is a naive
    C loop), falling back to the int64 path otherwise — bit-identical
    either way."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([
        StructField("query_id", probes.schema["query_id"].dataType),
        StructField(id_col, post_kern.schema[id_col].dataType),
        StructField("_dot", LongType()),
        StructField("_na", LongType()),
    ])
    arrow_out = to_arrow_schema(out_schema)
    # key dtypes must match across cogroup sides (partition column is
    # directory-inferred int, centroid_id is long); data-column names
    # must not collide (Spark 4 prunes same-named cogroup columns by name)
    probe_q = probes.join(q_raw, "query_id").select(
        F.col("bucket").cast(post_kern.schema["bucket"].dataType)
        .alias("__pb_bucket"), "query_id", "__qe")

    def score(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if left.num_rows == 0 or right.num_rows == 0:
            return arrow_out.empty_table()
        vids_raw = left.column(id_col).to_numpy(zero_copy_only=False)
        order = np.argsort(vids_raw, kind="stable")  # id ASC tiebreak
        vids = vids_raw[order]
        PV = np_quantize(
            list_to_matrix(left.column("__pe"), np.float64))[order]
        Xq = np_quantize(list_to_matrix(right.column("__qe"), np.float64))
        qids = right.column("query_id").to_numpy(zero_copy_only=False)
        nq, n = len(Xq), len(vids)
        na = (PV * PV).sum(1)                            # (n,)
        nb = (Xq * Xq).sum(1)                            # (nq,)
        sqrt_na = np.sqrt(na.astype(np.float64))[None, :]
        r = min(k, n)
        # query-chunked so the chunk's dot/cos matrices and the argsort
        # working set stay cache-resident (same restructure as
        # ivfpq._adc_partials_cogrouped — the full-(nq,n) form streams
        # three matrices through DRAM and flattens at 8 procs);
        # per-query results are independent, so output is bit-identical
        QB = max(16, min(nq, 250_000 // max(n, 1)))
        sel = np.empty((nq, r), dtype=np.int64)
        dots_sel = np.empty((nq, r), dtype=np.int64)
        for q0 in range(0, nq, QB):
            q1 = min(q0 + QB, nq)
            dots_c = exact_int_matmul(Xq[q0:q1], PV.T)   # (qb, n) int64
            cos = dots_c.astype(np.float64) / (
                sqrt_na * np.sqrt(nb[q0:q1].astype(np.float64))[:, None])
            if exclude_self:
                cos[qids[q0:q1, None] == vids[None, :]] = -np.inf
            s_blk = np.argsort(-cos, axis=1, kind="stable")[:, :r]
            sel[q0:q1] = s_blk
            dots_sel[q0:q1] = np.take_along_axis(dots_c, s_blk, 1)
        out_q = np.repeat(qids, r)
        out_v = vids[sel.reshape(-1)]
        keep = (out_q != out_v) if exclude_self \
            else np.ones(len(out_q), dtype=bool)
        return pa.Table.from_arrays([
            pa.array(out_q[keep]),
            pa.array(out_v[keep]),
            pa.array(dots_sel.reshape(-1)[keep]),
            pa.array(na[sel].reshape(-1)[keep]),
        ], schema=arrow_out)

    return post_kern.groupby("bucket").cogroup(
        probe_q.groupby("__pb_bucket")
    ).applyInArrow(score, schema=out_schema)


def probe_pruned_topk(
    spark,
    path: str,
    probes: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    probe_mode: str = "auto",
    driver_probe_limit: int = 10_000,
    probe_scratch_dir: str | None = None,
) -> DataFrame:
    """Shared persisted-index probe tail (used by flat ivf_probe and
    bkt.ivf_probe_hierarchical): resolve the (query_id, bucket) probe
    frame, then a PARTITION-PRUNED postings scan + exact
    quantized-cosine top-k.

    Two probe-selection strategies (VERDICT r2 #2):

    - ``driver`` — collect the probe frame, inline the bucket set as a
      static IN filter, broadcast the probes. Right for interactive
      query *batches* (the common serve shape): one tiny driver round
      trip buys static partition pruning with zero extra jobs.
    - ``join`` — the probe kernel's output is WRITTEN to a side table
      under the index (executor-side, never through the driver), the
      distinct-bucket set (bounded by n_centroids, tiny) broadcast-
      semi-joins the postings scan — dynamic partition pruning selects
      the bucket partitions — and probes/queries join candidates as
      ordinary (AQE-planned) joins. Right for probe *waves*: a 10^6-
      query wave would otherwise funnel millions of rows through the
      driver and inline a megabyte IN-list.
    - ``auto`` — ``join`` iff queries exceeds `driver_probe_limit`
      (decided with a limit-bounded count, so the scan stops early).

    `predicate` (Column or SQL string over posting columns) composes
    filtered ANN with the index: it lands in the SAME pruned scan as a
    pushed filter, below the scoring join — the reference's
    SearchIndexWithFilter over SPANN postings (VectorIndex.h:59)."""
    mode, probes_resolved, prune = _resolve_probes(
        spark, path, probes, queries, probe_mode, driver_probe_limit,
        scratch_dir=probe_scratch_dir)
    postings = read_postings(spark, path, id_col)
    replicated = "replica_rank" in postings.columns
    if predicate is not None:
        postings = postings.filter(predicate)
    if mode == "join":
        # wave path: per-bucket cogrouped numpy scoring with partial
        # top-k — the candidate-pair blowup never becomes Spark rows
        # (see _exact_partials_cogrouped)
        post_kern = prune(postings.select(
            id_col, "bucket", F.col(vec_col).alias("__pe")))
        q_raw = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qe"),
        )
        partial = _exact_partials_cogrouped(
            post_kern, probes_resolved, q_raw, k, id_col)
        if replicated:
            # replica copies of a row score identically: one candidate
            # per (query, vector) (the reference's visited set, P5).
            # Repartition on query_id FIRST: that partitioning satisfies
            # the dedup's (query_id, id) clustering AND the window's —
            # one exchange instead of the planner's two
            partial = partial.repartition("query_id") \
                .dropDuplicates(["query_id", id_col])
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col(id_col).asc()
        )
        # per-QUERY norm from a tiny broadcast frame (not shipped on
        # every candidate row)
        nbf = F.broadcast(queries.select(
            F.col(id_col).alias("query_id"),
            idot(quantize(F.col(vec_col)),
                 quantize(F.col(vec_col))).alias("_nb")))
        return (
            partial.join(nbf, "query_id")
            .withColumn("cosine", cosine_from_quantized(
                F.col("_dot"), F.col("_na"), F.col("_nb")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col(id_col).alias("vec_id"), "cosine",
                    F.col("rank").cast("int").alias("rank"))
        )
    qvec = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ))
    candidates = (
        prune(postings).join(probes_resolved, "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    if replicated:
        # replica copies of a row are identical except (bucket,
        # replica_rank): a query probing two of a vector's postings must
        # score it once (the reference's visited/dedup set, P5 shape).
        # repartition first: one exchange serves the dedup AND the
        # _score_candidates rank window (CLAUDE.md rule 17)
        candidates = candidates.drop("bucket", "replica_rank") \
            .repartition("query_id") \
            .dropDuplicates(["query_id", id_col])
    candidates = candidates.join(qvec, "query_id")
    return _score_candidates(candidates, k, id_col, vec_col)


def _resolve_probes(spark, path: str, probes: DataFrame,
                    queries: DataFrame, probe_mode: str,
                    driver_probe_limit: int,
                    scratch_dir: str | None = None):
    """Shared probe-selection strategy (probe_pruned_topk and
    ivfpq.ivf_pq_probe): resolve 'auto', then return
    (mode, probes_resolved, prune) where `prune(postings)` applies the
    bucket pruning — a static IN filter (driver mode) or a broadcast
    distinct-bucket semi-join that triggers dynamic partition pruning
    (join mode; probes land in a side table under `scratch_dir`, default
    {path}/_probes, cleaned by ivf_compact / cleanup_probe_tables —
    default join mode therefore needs WRITE access to the index path;
    pass `scratch_dir` to wave-probe a READ-ONLY shared index)."""
    if probe_mode == "auto":
        nq = queries.limit(driver_probe_limit + 1).count()
        probe_mode = "join" if nq > driver_probe_limit else "driver"
    if probe_mode == "driver":
        import pandas as pd

        probe_rows = probes.collect()
        buckets = sorted({r["bucket"] for r in probe_rows})
        # pandas→Arrow createDataFrame: the row-list path is the slow
        # non-Arrow local relation, and this runs per probe batch
        probes_resolved = F.broadcast(spark.createDataFrame(
            pd.DataFrame(probe_rows, columns=probes.columns),
            schema=probes.schema))

        def prune(post: DataFrame) -> DataFrame:
            return post.filter(F.col("bucket").isin(buckets))
    elif probe_mode == "join":
        import uuid

        # always under a _probes/ child — cleanup_probe_tables removes
        # exactly that child, so a user scratch dir's other contents
        # are out of blast radius
        base = scratch_dir if scratch_dir is not None else path
        probe_tbl = f"{base}/_probes/{uuid.uuid4().hex}"
        probes.write.mode("overwrite").parquet(probe_tbl)
        probes_resolved = spark.read.parquet(probe_tbl)
        from pyspark.sql.types import NumericType

        bucket_set = probes_resolved.select("bucket")
        if isinstance(bucket_set.schema["bucket"].dataType, NumericType):
            # constant-true comparison: PartitionPruning only inserts
            # the DPP subquery when the build side carries a "likely
            # selective" predicate (isnotnull does not count); without
            # it the semi join filters ROWS but the scan reads every
            # bucket FILE (plan-gated in test_plans.py)
            bucket_set = bucket_set.filter(
                F.col("bucket") >= F.lit(-(1 << 62)))
        bucket_set = bucket_set.distinct()

        def prune(post: DataFrame) -> DataFrame:
            return post.join(F.broadcast(bucket_set), "bucket", "semi")
    else:
        raise ValueError(f"unknown probe_mode {probe_mode!r}")
    return probe_mode, probes_resolved, prune


def _load_centroids_local(path: str):
    """Centroid table -> (ids, quantized matrix, norms, bucket arrow
    type) via a DRIVER pyarrow read on local index paths — zero Spark
    jobs, where spark.read + _collect_centroids costs a scheduler
    round-trip per probe call. np_quantize is the bit-identical HALF_UP
    twin of the JVM quantize expression the collect path applies.
    Returns None for non-local paths (caller falls back)."""
    import numpy as np
    import pyarrow.parquet as pq

    if not _is_local_fs_path(path):
        return None
    tbl = pq.read_table(f"{path}/centroids")
    ids_raw = tbl.column("centroid_id").to_numpy(zero_copy_only=False)
    V = list_to_matrix(tbl.column("centroid_vec"), np.float64)
    order = np.argsort(ids_raw, kind="stable")  # ascending-id contract
    ids = ids_raw[order]
    mat = np_quantize(V[order])
    norms = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    return list(ids), mat, norms, tbl.schema.field("centroid_id").type


def _driver_probes(spark, path: str, queries: DataFrame, nprobe: int,
                   id_col: str, vec_col: str,
                   max_dist_ratio: float | None,
                   driver_probe_limit: int, probe_mode: str):
    """Driver-side probe selection for SMALL query batches: one Arrow
    collect of (query_id, vec) — which both decides the driver/join
    mode (limit-bounded) and delivers the vectors — then the shared
    numpy probe core against driver-loaded centroids. Returns a LOCAL
    (query_id, bucket) DataFrame, or None when the batch exceeds the
    bound (or probe_mode forces 'join') and the caller should use the
    executor-side kernel path. `vec_col` may be a DERIVED column (e.g.
    the OPQ-rotated query vector): the collect executes its kernel, so
    the driver sees exactly the executor path's values."""
    if probe_mode == "driver":
        local_q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__e")).toArrow()
    elif probe_mode == "auto":
        t = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__e")) \
            .limit(driver_probe_limit + 1).toArrow()
        if t.num_rows > driver_probe_limit:
            return None
        local_q = t
    else:
        return None
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType

    loaded = _load_centroids_local(path)
    if loaded is not None:
        cent_ids, cent_mat, cent_norms, bucket_at = loaded
        bucket_dt = from_arrow_type(bucket_at)
    else:
        centroids = spark.read.parquet(f"{path}/centroids")
        cent_ids, cent_mat, cent_norms = _collect_centroids(centroids)
        bucket_dt = centroids.schema["centroid_id"].dataType
    X = np_quantize(list_to_matrix(local_q.column("__e"), np.float64))
    if len(X):
        rows, buckets = _probe_pairs_np(
            X, cent_ids, cent_mat, cent_norms, nprobe, max_dist_ratio)
        qids = local_q.column("query_id") \
            .to_numpy(zero_copy_only=False)[rows]
    else:
        qids, buckets = [], []
    return spark.createDataFrame(
        pd.DataFrame({"query_id": qids, "bucket": buckets}),
        schema=StructType([
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("bucket", bucket_dt),
        ]))


def ivf_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    probe_mode: str = "auto",
    max_dist_ratio: float | None = None,
    probe_scratch_dir: str | None = None,
    driver_probe_limit: int = 10_000,
) -> DataFrame:
    """Probe a persisted IVF index: nprobe bucket ids per query via the
    centroid kernel, then the shared partition-pruned scoring tail
    (see probe_pruned_topk for the driver/join strategy split — query
    batches prune statically, query waves prune dynamically).
    `max_dist_ratio` drops probe heads farther than ratio× the nearest
    head's distance (fewer partitions read for easy queries);
    `probe_scratch_dir` relocates join-mode side tables off the index
    path (read-only shared indexes).

    Small batches (<= driver_probe_limit, the same bound that already
    gates the static-IN pruning) compute their probe buckets ON THE
    DRIVER: one Arrow collect of the queries replaces the mode-deciding
    count job AND the probe-kernel job, and the centroid matrix comes
    from a driver pyarrow read instead of a collect job — an
    interactive probe pays one cluster job total before scoring, not
    four. Identical math (_probe_pairs_np) and identical downstream
    plan; waves keep the executor-side kernel + dynamic pruning."""
    probes = _driver_probes(spark, path, queries, nprobe, id_col, vec_col,
                            max_dist_ratio, driver_probe_limit, probe_mode)
    if probes is not None:
        return probe_pruned_topk(spark, path, probes, queries, k,
                                 id_col, vec_col, predicate,
                                 probe_mode="driver",
                                 driver_probe_limit=driver_probe_limit,
                                 probe_scratch_dir=probe_scratch_dir)
    centroids = spark.read.parquet(f"{path}/centroids")
    probes = _probe_buckets(queries, centroids, nprobe, id_col, vec_col,
                            max_dist_ratio=max_dist_ratio)
    return probe_pruned_topk(spark, path, probes, queries, k,
                             id_col, vec_col, predicate,
                             probe_mode="join" if probe_mode == "auto"
                             else probe_mode,
                             driver_probe_limit=driver_probe_limit,
                             probe_scratch_dir=probe_scratch_dir)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 32,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    replica_count: int = 1,
) -> DataFrame:
    """One-shot approximate top-k (build-in-memory + probe): probe only
    the nprobe nearest buckets per query. For repeated probing use
    ivf_build + ivf_probe — the persisted index is the scale path.

    Deterministic end-to-end (md5 head selection, exact integer math,
    RNG replica closure when replica_count > 1), so the DuckDB oracle
    replicates it exactly; recall@k vs brute force is additionally gated
    in tests (reference harness TruthSet.h:242-285).
    """
    centroids = select_centroids(corpus, n_centroids, id_col, vec_col)
    bucketed = assign_buckets(corpus, centroids, id_col, vec_col,
                              replica_count=replica_count)
    probes = _probe_buckets(queries, centroids, nprobe, id_col, vec_col)
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    candidates = (
        bucketed.join(F.broadcast(probes), "bucket")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    if replica_count > 1:
        # one exchange for dedup + rank window (CLAUDE.md rule 17)
        candidates = candidates.drop("bucket", "replica_rank") \
            .repartition("query_id") \
            .dropDuplicates(["query_id", id_col])
    candidates = candidates.join(F.broadcast(qvec), "query_id")
    return _score_candidates(candidates, k, id_col, vec_col)


def multi_index_topk(
    corpus: DataFrame,
    queries: DataFrame,
    weights: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Rank join over N query indexes (reference J5 MultiIndexScan,
    MultiIndexScan.cpp:85-194): global top-k by the weighted sum of
    per-query cosine similarities.

    The reference streams per-index cursors and completes missing
    distances with LUT probes (:117-123); the batch restatement computes
    every per-index distance in ONE corpus scan (queries broadcast as an
    ordered array literal) and takes a global top-k — no join at all, and
    the scan is whole-stage-codegen'd. Query i's weight is weights[i],
    matching the reference's weighted-sum rank UDF (:41-49).

    For MANY queries (beyond ~10², where inlining N×dim literals stops
    compiling well) use `multi_index_topk_join` — same semantics, the
    query frame broadcasts as data instead of literals.
    """
    import numpy as np

    qrows = queries.select(id_col, vec_col).collect()
    assert len(qrows) == len(weights), "one weight per query"
    c = _with_quantized(corpus, id_col, vec_col)
    score = F.lit(0.0)
    for row, w in zip(qrows, weights):
        # np_quantize, not Python round(): HALF_UP like the engine +
        # oracle, where round() is HALF_EVEN and diverges on exact ties
        qv = np_quantize(
            np.asarray([row[vec_col]], dtype=np.float64))[0].tolist()
        qlit = F.array(*[F.lit(v).cast("long") for v in qv])
        qnorm = sum(v * v for v in qv)
        score = score + F.lit(float(w)) * cosine_from_quantized(
            idot(F.col("_q"), qlit), F.col("_norm"), F.lit(qnorm).cast("long")
        )
    return (
        c.withColumn("score", score)
        .orderBy(F.col("score").desc(), F.col("_id").asc())
        .limit(k)
        .select(F.col("_id").alias("vec_id"), "score")
    )


def multi_index_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    weight_col: str = "weight",
) -> DataFrame:
    """Rank join for LARGE query sets: the query frame (with its weight
    column) broadcasts as data, every (corpus row × query) pair scores
    in one codegen pass, and the weighted sum folds in a map-side-
    combinable aggregation — no literals, no driver collect, so 10⁴
    queries cost one broadcast instead of 10⁴×dim inlined constants.
    Same semantics as multi_index_topk (which stays the small-N fast
    path); agreement is tested to float tolerance (the aggregation's
    addition order is partition-dependent)."""
    c = _with_quantized(corpus, id_col, vec_col)
    q = _with_quantized(queries, id_col, vec_col) \
        .withColumnRenamed("_id", "_qid") \
        .withColumnRenamed("_q", "_qq") \
        .withColumnRenamed("_norm", "_qnorm")
    w = queries.select(
        F.col(id_col).alias("_qid"), F.col(weight_col).alias("_w")
    )
    scored = (
        c.join(F.broadcast(q.join(w, "_qid")))
        .withColumn(
            "_s",
            F.col("_w") * cosine_from_quantized(
                idot(F.col("_q"), F.col("_qq")),
                F.col("_norm"), F.col("_qnorm"),
            ),
        )
        .groupBy("_id")
        .agg(F.sum("_s").alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("_id").asc())
        .limit(k)
        .select(F.col("_id").alias("vec_id"), "score")
    )


def paged_topk(
    corpus: DataFrame,
    query_vec: list[float],
    page_size: int = 10,
    max_pages: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Iterative top-k cursor (reference Q4 VBASE GetIterator /
    SearchIndexIterativeNext, ResultIterator.cpp:28-57): yield pages of
    ascending-distance results. Spark restatement = keyset pagination —
    each page re-queries with `cosine < last_seen` (strictly colder than
    everything already returned) instead of OFFSET, so page N+1 is one
    pruned scan, not a rescan of N pages. Tie-safety comes from the
    (cosine, id) composite keyset."""
    import numpy as np

    # HALF_UP quantization (np_quantize), matching the engine expression
    q = np_quantize(
        np.asarray([query_vec], dtype=np.float64))[0].tolist()
    qlit = F.array(*[F.lit(v).cast("long") for v in q])
    qnorm = sum(v * v for v in q)
    c = _with_quantized(corpus, id_col, vec_col).withColumn(
        "cosine",
        cosine_from_quantized(
            idot(F.col("_q"), qlit), F.col("_norm"),
            F.lit(qnorm).cast("long"),
        ),
    ).select(F.col("_id").alias(id_col), "cosine")
    yield from _keyset_pages(c, id_col, page_size, max_pages)


def _keyset_pages(scan: DataFrame, id_col: str, page_size: int,
                  max_pages: int):
    """Shared keyset-pagination loop (paged_topk and paged_topk_indexed):
    each page re-queries strictly colder than the last (cosine, id)
    keyset — page N+1 is one pruned scan, never a rescan of N pages;
    ties are safe via the composite keyset."""
    last = None  # (cosine, id) keyset
    for _ in range(max_pages):
        page_df = scan
        if last is not None:
            page_df = scan.filter(
                (F.col("cosine") < F.lit(last[0]))
                | ((F.col("cosine") == F.lit(last[0]))
                   & (F.col(id_col) > F.lit(last[1])))
            )
        rows = page_df.orderBy(F.col("cosine").desc(),
                               F.col(id_col).asc()).limit(page_size).collect()
        if not rows:
            return
        yield rows
        last = (rows[-1]["cosine"], rows[-1][id_col])


def _budgeted_scan(
    spark,
    path: str,
    query_vec: list[float],
    max_check: int | None,
    id_col: str,
    vec_col: str,
    predicate=None,
    walk: str = "auto",
):
    """Shared tail for the Relaxed-Monotonicity iterative scan
    (reference Q4: ResultIterator.cpp:28-57 rents a WorkSpace with
    p_maxCheck; BKTIndex.cpp:431-434 flips m_relaxedMono once results
    stop being provably monotone).

    Spark restatement over the persisted index: rank heads best-first
    (driver-side — the head structures are tiny by construction, same
    bound as _collect_centroids), then walk them accumulating posting
    sizes. A head is probed iff it is the nearest head or the rows
    checked before it are still under `max_check` — the workspace
    budget, counted in posting rows exactly like the reference counts
    checked leaves (m_iNumberOfCheckedLeaves). The scan then reads ONLY
    the probed bucket partitions (static partition pruning).

    `walk` picks the head ORDER: 'flat' sorts every head globally by
    exact quantized cosine (the IVF shape); 'tree' walks the persisted
    BKT tree in the reference's SPTQueue best-first descent order
    (bkt._descent_head_order — the index's own frontier, so renting a
    cursor at large head counts scores O(visited·branch) heads, not
    O(C)). 'auto' selects by the index's persisted index_type. On a
    one-level tree the two orders coincide bit-for-bit (live-leaf
    cosines are identical by construction); on deeper trees the tree
    walk is the approximate-descent order the index was built for.

    Posting sizes come from the PERSISTED index size table
    (read_posting_sizes — the reference's resident m_postingSizes), so
    renting a cursor costs one tiny parquet read, never an index-wide
    postings scan. The counts are RAW rows: tombstoned rows still
    occupy posting pages until a compact/merge/split rewrites them, so
    they count against the page budget — the same accounting as the
    reference, whose posting lengths shrink only on rewrite.

    Monotonicity: within the probed subset pages are exactly sorted, so
    the reference's `gnode.distance > m_Results.worst()` clause never
    fires; the only way order can be violated vs the FULL index is a
    better vector hiding in an unprobed posting. The analog of the
    reference's SPTQueue head-distance frontier is therefore the best
    head cosine among unprobed NON-EMPTY heads: results at or above it
    are still provably monotone, results below it carry
    relaxed_mono = 1. No budget (max_check=None) probes everything and
    never flags — iterative == batch exactly.

    Returns (scan_df with [id_col, 'cosine', 'relaxed_mono'], threshold,
    probed_bucket_ids)."""
    import numpy as np

    # HALF_UP quantization (np_quantize) — Python round() is HALF_EVEN
    # and would diverge from the centroid matrix + oracle on exact ties
    q = np_quantize(np.asarray([query_vec], dtype=np.float64))[0]
    qnorm = float(np.sqrt(float((q * q).sum())))
    if walk not in ("auto", "flat", "tree"):
        # a typo (e.g. 'Tree') would otherwise silently take the flat
        # order, which differs from the tree descent on bkt indexes
        raise ValueError(f"walk must be 'auto'|'flat'|'tree', got {walk!r}")
    if walk == "auto":
        walk = ("tree" if read_index_meta(spark, path)
                .get("index_type") == "bkt" else "flat")
    if walk == "tree":
        from sptag_spark.operators import bkt as _bkt

        parent, cents, is_leaf = _bkt._read_tree(spark, path)
        live, orphans = _bkt._reconcile_heads(spark, path, cents, is_leaf)
        head_order = _bkt._descent_walker(
            parent, cents, is_leaf, live, orphans)(q)
    else:
        centroids = spark.read.parquet(f"{path}/centroids")
        cent_ids, cent_mat, cent_norms = _collect_centroids(centroids)
        # Same op order as _nearest_centroid_kernel / the _COS oracle:
        # dot / (sqrt(na)*sqrt(nb)), query norm first — IEEE-bit-identical.
        dots = exact_int_matmul(q[None, :], cent_mat.T)[0]
        hcos = dots / (qnorm * cent_norms)
        # stable sort over ids ascending => (cosine DESC, id ASC) tiebreak
        order = np.argsort(-hcos, kind="stable")
        head_order = ((cent_ids[idx], float(hcos[idx])) for idx in order)

    post = read_postings(spark, path, id_col)
    sizes = read_posting_sizes(spark, path)

    probed, checked = [], 0
    threshold = None
    for pos, (cid, hc) in enumerate(head_order):
        if pos == 0 or max_check is None or checked < max_check:
            probed.append(cid)
            checked += sizes.get(cid, 0)
        elif sizes.get(cid, 0) > 0:
            # first unprobed non-empty head in best-first order = the
            # monotone frontier (for the tree walk: the frontier of the
            # index's OWN descent — heads the queue would pop later)
            threshold = float(hc)
            break

    scan = post.filter(F.col("bucket").isin([int(c) for c in probed]))
    if predicate is not None:
        # the reference's p_filterFunc (ResultIterator.cpp:8): results
        # filter AFTER the budget walk — checked-leaf accounting counts
        # every visited row exactly like m_iNumberOfCheckedLeaves, and
        # the predicate lands in the same pruned scan as a pushed filter
        scan = scan.filter(predicate)
    if "replica_rank" in scan.columns:
        # replica copies score identically: one candidate per vector
        # (the reference's visited set, P5)
        scan = scan.dropDuplicates([id_col])
    qlit = F.array(*[F.lit(int(v)).cast("long") for v in q.tolist()])
    qn = int((q * q).sum())
    scan = _with_quantized(scan, id_col, vec_col).select(
        F.col("_id").alias(id_col),
        cosine_from_quantized(
            idot(F.col("_q"), qlit), F.col("_norm"),
            F.lit(qn).cast("long"),
        ).alias("cosine"),
    )
    if threshold is None:
        flag = F.lit(0)
    else:
        flag = F.when(F.col("cosine") < F.lit(threshold), 1).otherwise(0)
    scan = scan.withColumn("relaxed_mono", flag.cast("int"))
    return scan, threshold, probed


def relaxed_mono_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 50,
    max_check: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    walk: str = "auto",
) -> DataFrame:
    """Batch form of the budgeted iterative scan: top-k of the
    budget-pruned index scan with the per-row relaxed_mono flag — the
    frame a VBASE-style consumer sees after draining the cursor. One
    declarative plan (pruned scan → top-k), used by the contract query;
    paged_topk_indexed serves the same rows as a cursor. On a bkt index
    the head walk follows the tree's SPTQueue descent (walk='auto')."""
    scan, _, _ = _budgeted_scan(spark, path, query_vec, max_check,
                                id_col, vec_col, predicate, walk=walk)
    return (
        scan.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            ).cast("int"),
        )
        .select(id_col, "cosine", "rank", "relaxed_mono")
    )


def _budgeted_probes_batch(
    spark,
    path: str,
    queries: DataFrame,
    max_check: int | None,
    id_col: str,
    vec_col: str,
    walk: str = "auto",
) -> DataFrame:
    """Vectorized form of _budgeted_scan's head walk over a QUERIES
    DataFrame: per Arrow batch, one exact int matmul ranks every head
    for every query, then the budget walk (probe while rows-before <
    max_check, threshold = best unprobed non-empty head) runs as numpy
    prefix arithmetic per query — no driver round-trips, no per-query
    jobs. Emits (query_id, bucket, __thr): the probe frame the shared
    pruned-scan tail consumes, with the query's Relaxed-Monotonicity
    threshold riding every probe row (nullable — null means nothing
    was truncated).

    Head cosines, tiebreaks, probe sets and thresholds are
    BIT-IDENTICAL to the per-query driver walk: same quantization
    (np_quantize HALF_UP), same exact integer matmul, same IEEE op
    order (dot / (qnorm * cent_norm)), same stable argsort over
    ascending head ids, and posting sizes from the same persisted
    _sizes table (read_posting_sizes) broadcast once in the closure.

    On a bkt index (walk='auto' → 'tree') each query instead runs the
    SPTQueue best-first tree descent inside the kernel
    (bkt._descent_walker — quantized matrices built once per task,
    heapq walk per query) with the SAME sequential budget rule, so
    batch == per-query parity holds for tree indexes too."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    sizes = read_posting_sizes(spark, path)
    if walk not in ("auto", "flat", "tree"):
        # a typo (e.g. 'Tree') would otherwise silently take the flat
        # order, which differs from the tree descent on bkt indexes
        raise ValueError(f"walk must be 'auto'|'flat'|'tree', got {walk!r}")
    if walk == "auto":
        walk = ("tree" if read_index_meta(spark, path)
                .get("index_type") == "bkt" else "flat")
    if walk == "tree":
        from sptag_spark.operators import bkt as _bkt

        parent, cents, is_leaf = _bkt._read_tree(spark, path)
        live, orphans = _bkt._reconcile_heads(spark, path, cents, is_leaf)
        _descent_factory = _bkt._descent_walker
        n_heads = len(live) + (len(orphans[0]) if orphans else 0)
        cent_ids = cent_mat = cent_norms = None
    else:
        centroids = spark.read.parquet(f"{path}/centroids")
        cent_ids, cent_mat, cent_norms = _collect_centroids(centroids)
        n_heads = len(cent_ids)
    cent_id_arr = (np.asarray(cent_ids, dtype=np.int64)
                   if cent_ids is not None else None)
    size_arr = (np.asarray([sizes.get(int(c), 0) for c in cent_ids],
                           dtype=np.int64)
                if cent_ids is not None else None)

    out_schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("bucket", LongType()),
        StructField("__thr", DoubleType()),
    ])
    arrow_out = to_arrow_schema(out_schema)

    def run(batches):
        if walk == "tree":
            tree_walk = _descent_factory(parent, cents, is_leaf,
                                         live, orphans)
        for batch in batches:
            X = list_to_matrix(batch.column(vec_col), np.float64)
            if len(X) == 0:
                continue
            qid = batch.column(id_col)
            if isinstance(qid, pa.ChunkedArray):
                qid = qid.combine_chunks()
            qids = qid.to_numpy(zero_copy_only=False)
            Q = np_quantize(X)
            if walk == "tree":
                out_q, out_b, out_t = [], [], []
                for r in range(len(X)):
                    # the sequential budget rule, verbatim
                    probed, checked, thr = [], 0, None
                    for pos, (cid, hc) in enumerate(tree_walk(Q[r])):
                        if (pos == 0 or max_check is None
                                or checked < max_check):
                            probed.append(int(cid))
                            checked += sizes.get(int(cid), 0)
                        elif sizes.get(int(cid), 0) > 0:
                            thr = float(hc)
                            break
                    out_q.extend([qids[r]] * len(probed))
                    out_b.extend(probed)
                    out_t.extend([thr] * len(probed))
                yield pa.RecordBatch.from_arrays([
                    pa.array(out_q).cast(
                        arrow_out.field("query_id").type),
                    pa.array(out_b, pa.int64()),
                    pa.array(out_t, pa.float64()),
                ], schema=arrow_out)
                continue
            dots = exact_int_matmul(Q, cent_mat.T)      # (nq, C) exact
            qn = np.sqrt((Q * Q).sum(1).astype(np.float64))
            out_q, out_b, out_t = [], [], []
            for r in range(len(X)):
                hcos = dots[r] / (qn[r] * cent_norms)
                order = np.argsort(-hcos, kind="stable")
                if max_check is None:
                    probed, thr = cent_id_arr[order], None
                else:
                    sz = size_arr[order]
                    rows_before = np.concatenate(
                        ([0], np.cumsum(sz[:-1])))
                    # rows_before is monotone, so the mask is a prefix:
                    # exactly the sequential walk's probe set
                    npb = max(1, int((rows_before < max_check).sum()))
                    probed = cent_id_arr[order[:npb]]
                    rest = np.nonzero(sz[npb:] > 0)[0]
                    thr = (float(hcos[order[npb + rest[0]]])
                           if rest.size else None)
                out_q.extend([qids[r]] * len(probed))
                out_b.extend(int(b) for b in probed)
                out_t.extend([thr] * len(probed))
            yield pa.RecordBatch.from_arrays([
                pa.array(out_q).cast(arrow_out.field("query_id").type),
                pa.array(out_b, pa.int64()),
                pa.array(out_t, pa.float64()),
            ], schema=arrow_out)

    assert n_heads > 0, f"empty centroid table under {path}"
    return queries.select(id_col, vec_col).mapInArrow(
        run, schema=out_schema)


def relaxed_mono_topk_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 50,
    max_check: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    probe_mode: str = "auto",
    driver_probe_limit: int = 10_000,
    probe_scratch_dir: str | None = None,
    walk: str = "auto",
) -> DataFrame:
    """Query-FRAME form of the Relaxed-Monotonicity budgeted scan
    (VERDICT r5 missing #2): one declarative plan serves a whole wave
    of VBASE-style consumers — the reference's iterator is per-query
    (ResultIterator.cpp:28-57), but Spark's win is batch. Row-for-row
    parity with relaxed_mono_topk on every query: same probe sets,
    thresholds, cosines, ranks and relaxed_mono flags (self NOT
    excluded — the cursor returns whatever lives in the probed
    postings, reference semantics).

    Probe selection reuses _resolve_probes: small waves inline the
    bucket set as a static IN filter (one driver trip for the WHOLE
    wave, not one per query); large waves write the probe frame to a
    side table and prune via DPP, scoring through the cogrouped Arrow
    kernel so the candidate blowup never becomes Spark rows."""
    probes = _budgeted_probes_batch(
        spark, path, queries, max_check, id_col, vec_col, walk=walk)
    mode, probes_resolved, prune = _resolve_probes(
        spark, path, probes, queries, probe_mode, driver_probe_limit,
        scratch_dir=probe_scratch_dir)
    thresholds = probes_resolved.select("query_id", "__thr") \
        .dropDuplicates(["query_id"])
    postings = read_postings(spark, path, id_col)
    replicated = "replica_rank" in postings.columns
    if predicate is not None:
        postings = postings.filter(predicate)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    flag = F.when(F.col("__thr").isNotNull()
                  & (F.col("cosine") < F.col("__thr")), 1).otherwise(0)
    if mode == "join":
        post_kern = prune(postings.select(
            id_col, "bucket", F.col(vec_col).alias("__pe")))
        q_raw = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qe"))
        partial = _exact_partials_cogrouped(
            post_kern, probes_resolved.select("query_id", "bucket"),
            q_raw, k, id_col, exclude_self=False)
        if replicated:
            partial = partial.repartition("query_id") \
                .dropDuplicates(["query_id", id_col])
        nbf = F.broadcast(queries.select(
            F.col(id_col).alias("query_id"),
            idot(quantize(F.col(vec_col)),
                 quantize(F.col(vec_col))).alias("_nb")))
        scored = (partial.join(nbf, "query_id")
                  .withColumn("cosine", cosine_from_quantized(
                      F.col("_dot"), F.col("_na"), F.col("_nb"))))
    else:
        qf = F.broadcast(
            queries.select(F.col(id_col).alias("query_id"),
                           quantize(F.col(vec_col)).alias("_qq"))
            .withColumn("_qn", idot(F.col("_qq"), F.col("_qq"))))
        cand = prune(postings).join(
            probes_resolved.select("query_id", "bucket"), "bucket")
        if replicated:
            # replica copies score identically: one candidate per
            # (query, vector); repartition first so ONE exchange serves
            # the dedup and the rank window (CLAUDE.md rule 17)
            cand = cand.drop("bucket", "replica_rank") \
                .repartition("query_id") \
                .dropDuplicates(["query_id", id_col])
        scored = (
            cand.join(qf, "query_id")
            .withColumn("_pq", quantize(F.col(vec_col)))
            .select(
                "query_id", F.col(id_col),
                cosine_from_quantized(
                    idot(F.col("_pq"), F.col("_qq")),
                    idot(F.col("_pq"), F.col("_pq")),
                    F.col("_qn"),
                ).alias("cosine"),
            ))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .join(thresholds, "query_id")
        .withColumn("relaxed_mono", flag.cast("int"))
        .select("query_id", id_col, "cosine", "rank", "relaxed_mono")
    )


def paged_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    page_size: int = 10,
    max_pages: int = 100,
    max_check: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate=None,
    walk: str = "auto",
):
    """Iterative top-k cursor over a PERSISTED IVF index with the
    reference's Relaxed-Monotonicity budget (Q4: GetIterator /
    SearchIndexIterativeNext, ResultIterator.cpp:28-57; flag at
    BKTIndex.cpp:431-434). The budget is rented once per cursor —
    exactly RentWorkSpace(p_maxCheck) — and every page is served from
    the budget-pruned scan by keyset pagination (strictly colder than
    the last returned (cosine, id), so page N+1 is one pruned scan).

    Each yielded page is a list of Rows carrying `relaxed_mono`: 0 while
    results are provably in true global distance order, 1 once they sink
    below the best unprobed head's cosine (the consumer's early-exit
    signal — a VBASE top-k-with-filter loop must keep draining flagged
    pages instead of stopping at the first threshold miss). With
    max_check=None nothing truncates, no row flags, and the
    concatenation of pages equals the exact flat scan. On a bkt index
    the budget walk follows the tree's SPTQueue descent order
    (walk='auto' → 'tree'), matching the index's own probe design."""
    scan, _, _ = _budgeted_scan(spark, path, query_vec, max_check,
                                id_col, vec_col, predicate, walk=walk)
    yield from _keyset_pages(scan, id_col, page_size, max_pages)


def mrr_at_k(approx: DataFrame, truth: DataFrame) -> float:
    """Mean reciprocal rank of the first true neighbor found (reference
    TruthSet MRR, TruthSet.h:166-240). `truth` rows mark relevant
    (query_id, vec_id); `approx` carries rank."""
    hits = approx.join(truth.select("query_id", "vec_id"),
                       ["query_id", "vec_id"], "left_semi")
    first_hit = hits.groupBy("query_id").agg(F.min("rank").alias("r"))
    all_q = truth.select("query_id").distinct()
    per_q = all_q.join(first_hit, "query_id", "left").select(
        F.coalesce(1.0 / F.col("r"), F.lit(0.0)).alias("rr")
    )
    return per_q.agg(F.avg("rr")).collect()[0][0]


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Mean per-query recall of `approx` vs `exact` (both from *_topk).
    The reference's CalculateRecall (TruthSet.h:242-285) as one join."""
    hits = approx.join(exact, ["query_id", "vec_id"], "left_semi") \
        .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    truth = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    per_q = truth.join(hits, "query_id", "left").select(
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true")).alias("r")
    )
    return per_q.agg(F.avg("r")).collect()[0][0]
