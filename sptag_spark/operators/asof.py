"""Point-in-time (as-of / backward) join — the engine's flagship operator.

Semantics: for every probe row (key, asof_ts), attach the payload of the
single data row with the same key and the greatest ts <= asof_ts (inclusive;
``strict=True`` makes it ts < asof_ts). Probe rows with no qualifying data
row keep null payloads (left join semantics). ``matched_ts`` (the matched
data row's timestamp) is always emitted so callers can audit temporal
distance and prove zero leakage.

This is the Spark restatement of the reference's "nearest valid row under a
cutoff" query (SPTAG SearchIndex with the version/late-data predicate,
AnnService/inc/Core/SPANN/ExtraDynamicSearcher.h:680: a posting entry is
visible only if its stored version is current — our ts <= asof_ts filter is
the same zero-temporal-leakage guard, declared relationally).

Three physical strategies, chosen like SPTAG chooses head-routing vs full
broadcast (AggregatorService.cpp:175-226), all JVM-side:

- ``union`` (default, scales to 10^12 rows): tag probe/data, unionByName,
  one shuffle on the keys, per-key sort, a single running
  ``last(struct(payload), ignorenulls)`` over
  rowsBetween(unboundedPreceding, currentRow). Entirely JVM-side window
  aggregation in ONE streaming pass — no Python, exactly one shuffle of
  probe+data combined. Packing payload into a struct guarantees all
  payload columns come from the SAME matched row (per-column last() could
  mix rows when a payload value is genuinely null).

- ``salted``: the union plan with hot keys' timelines split into ts
  chunks across reducers, plus a tiny carry frame between chunks.

- ``broadcast`` (hash join): a LEFT OUTER equi-join on the keys with
  ts <= asof_ts as the join condition, then a top-1 window per probe
  row. Spark can only hash-build the null-supplying (data) side of a
  left outer join: it runs ``BroadcastHashJoin LeftOuter, BuildRight``
  when the data side fits under autoBroadcastJoinThreshold and a
  sort-merge join (data shuffled) otherwise. The window shuffles only
  the join output, so small probe batches stay cheap.

``auto`` routes to ``broadcast`` when the probe side's plan statistics
fit under autoBroadcastJoinThreshold, else to ``union``.

``tolerance_seconds`` is applied once, after whichever plan ran: a match
older than the tolerance is nulled out. The match is the latest row
<= asof_ts, so when it is too old every other candidate is too.

Data rows with a NULL join key or NULL ts never match (equality and
``ts <= asof_ts`` are never true for NULL). All strategies produce
identical results (tested against each other and a DuckDB ASOF JOIN
oracle).
"""

from __future__ import annotations

import math
from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from sptag_spark.session import shuffle_parts

_PROBE_TAG = "__asof_is_probe"
_TS = "__asof_ts"
_PAY = "__asof_payload"
_CHUNK = "__asof_chunk"
_BNDS = "__asof_bounds"


def asof_join(
    probe: DataFrame,
    data: DataFrame,
    on: str | list[str],
    probe_ts: str,
    data_ts: str,
    payload: Iterable[str] | None = None,
    strict: bool = False,
    strategy: str = "union",
    tolerance_seconds: float | None = None,
    target_rows_per_key: int = 1_000_000,
) -> DataFrame:
    """As-of join ``probe`` against ``data``.

    Returns all probe columns plus ``matched_ts`` plus each payload column
    (null when no data row qualifies, or when the match is more than
    ``tolerance_seconds`` older than the probe; numeric ts columns take
    the tolerance in their own units). ``payload`` defaults to every data
    column except the join keys and ``data_ts``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # A data row with a NULL ts or key can never qualify (`ts <= asof_ts`
    # and `key = key` are never true for NULL in SQL); filtering here
    # makes all strategies agree — the union window would otherwise hand
    # a null-ts payload to later probes (nulls sort first) and match NULL
    # probe keys to NULL data keys (one window partition).
    for c in (data_ts, *keys):
        data = data.filter(F.col(c).isNotNull())
    if payload is None:
        payload = [c for c in data.columns if c not in keys and c != data_ts]
    payload = list(payload)
    for c in payload:
        if c in probe.columns:
            raise ValueError(
                f"payload column {c!r} collides with a probe column; alias it first"
            )

    if strategy == "auto":
        # Mirror the reference's routing check (AggregatorService.cpp:175:
        # route to top-K servers only when centers are loaded): broadcast
        # when the probe side is provably small, else the one-shuffle
        # union plan. Plan-statistics based — no extra job.
        probe_bytes = probe._jdf.queryExecution().optimizedPlan() \
            .stats().sizeInBytes()
        # Spark's own parsed value: the raw conf string may carry a unit
        # suffix ("64MB", "1KB").
        threshold = probe.sparkSession._jsparkSession.sessionState() \
            .conf().autoBroadcastJoinThreshold()
        strategy = "broadcast" if (
            0 <= probe_bytes <= max(threshold, 0)
        ) else "union"
    if strategy == "union":
        out = _asof_union(probe, data, keys, probe_ts, data_ts, payload, strict)
    elif strategy == "salted":
        out = _asof_union_salted(
            probe, data, keys, probe_ts, data_ts, payload, strict,
            target_rows_per_key=target_rows_per_key,
        )
    elif strategy == "broadcast":
        out = _asof_broadcast(
            probe, data, keys, probe_ts, data_ts, payload, strict
        )
    else:
        raise ValueError(f"unknown asof strategy: {strategy}")
    if tolerance_seconds is None:
        return out
    return _within_tolerance(
        out, probe_ts, probe.schema[probe_ts].dataType,
        data.schema[data_ts].dataType, payload, tolerance_seconds,
    )


def _within_tolerance(out: DataFrame, probe_ts: str, probe_type, data_type,
                      payload: list[str], tolerance_seconds: float) -> DataFrame:
    """Null out ``matched_ts`` and the payload where the match is more
    than ``tolerance_seconds`` older than the probe. A tolerance of 0 is a
    real bound: it keeps exact-timestamp matches only."""
    age = _ts_ordinal(F.col(probe_ts), probe_type) \
        - _ts_ordinal(F.col("matched_ts"), data_type)
    # _ts_ordinal is unix micros for timestamps, raw units for numbers
    scale = 1_000_000 if isinstance(
        probe_type, (TimestampType, TimestampNTZType)) else 1
    fresh = age <= F.lit(tolerance_seconds * scale)
    nulled = {"matched_ts", *payload}
    return out.select(*[
        F.when(fresh, F.col(c)).alias(c) if c in nulled else F.col(c)
        for c in out.columns
    ])


def _pay_struct(data: DataFrame, data_ts: str, payload: list[str]):
    ps = F.struct(
        F.col(data_ts).alias("matched_ts"), *[F.col(c).alias(c) for c in payload]
    )
    return ps, data.select(ps.alias(_PAY)).schema[_PAY].dataType


def _tagged_union(
    probe: DataFrame,
    data: DataFrame,
    keys: list[str],
    probe_ts: str,
    data_ts: str,
    payload: list[str],
) -> DataFrame:
    """probe ∪ data with a probe tag, a common ts column, and the data
    payload packed into one struct (null on probe rows)."""
    probe_cols = list(probe.columns)
    pay_struct, pay_type = _pay_struct(data, data_ts, payload)
    p = probe.select(
        *probe_cols,
        F.lit(None).cast(pay_type).alias(_PAY),
        F.col(probe_ts).alias(_TS),
        F.lit(1).alias(_PROBE_TAG),
    )
    d = data.select(
        *[F.col(k) for k in keys],
        *[
            F.lit(None).cast(probe.schema[c].dataType).alias(c)
            for c in probe_cols
            if c not in keys
        ],
        pay_struct.alias(_PAY),
        F.col(data_ts).alias(_TS),
        F.lit(0).alias(_PROBE_TAG),
    ).select(*p.columns)
    return p.unionByName(d)


def _tag_order(strict: bool) -> Column:
    # strict: a probe at ts must NOT see a data row at the same ts -> probe
    # sorts before data on ties; inclusive: data first so last() sees it.
    return F.col(_PROBE_TAG).desc() if strict else F.col(_PROBE_TAG).asc()


def _unpack_pay(filled: DataFrame, probe_cols: list[str],
                payload: list[str]) -> DataFrame:
    return filled.filter(F.col(_PROBE_TAG) == 1).select(
        *probe_cols,
        F.col(f"{_PAY}.matched_ts").alias("matched_ts"),
        *[F.col(f"{_PAY}.{c}").alias(c) for c in payload],
    )


def _asof_union(
    probe: DataFrame,
    data: DataFrame,
    keys: list[str],
    probe_ts: str,
    data_ts: str,
    payload: list[str],
    strict: bool,
) -> DataFrame:
    probe_cols = list(probe.columns)
    unioned = _tagged_union(probe, data, keys, probe_ts, data_ts, payload)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_TS).asc(), _tag_order(strict))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *probe_cols,
        F.col(_PROBE_TAG),
        F.last(_PAY, ignorenulls=True).over(w).alias(_PAY),
    )
    return _unpack_pay(filled, probe_cols, payload)


def _ts_ordinal(col: Column, dtype) -> Column:
    """A numeric, order-preserving image of the ts column (for quantile
    boundaries and chunk assignment)."""
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return F.unix_micros(col.cast("timestamp"))
    return col.cast("double")


def _hot_sample(unioned: DataFrame, sample_mod: int) -> DataFrame:
    """The deterministic 1/sample_mod row sample the hot-key stats read.

    Hash-based (not rand()): stable under task retries. Hash ALL columns,
    not just (keys, ts): with (keys, ts) alone every row sharing a
    timestamp samples all-or-nothing, and a hot key with few DISTINCT
    timestamps (coarse ts, heavy duplication) evades detection with
    non-trivial probability — e.g. 100 distinct ts at 1/64 each ->
    (63/64)^100 ~ 21% miss. Payload columns break the correlation for
    all but byte-identical duplicate rows. MapType has no hash in Spark
    (even nested inside a struct or array) — exclude unhashable payload
    columns (keys+ts are always hashable, so the sample stays
    well-defined; only the duplicate-row correlation guard weakens for
    rows identical in every hashable column)."""
    if sample_mod == 1:
        return unioned
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    hashable = [f.name for f in unioned.schema.fields
                if not _has_map(f.dataType)]
    return unioned.filter(F.pmod(
        F.xxhash64(*[F.col(c) for c in hashable], F.lit("hotstats")),
        F.lit(sample_mod),
    ) == 0)


def _hot_bounds(unioned: DataFrame, keys: list[str], ord_col: Column,
                target_rows_per_key: int):
    """Heavy hitters + their ts-quantile chunk boundaries from ONE
    deterministic row sample (VERDICT r2 #3; both outputs only affect
    LOAD BALANCE, never results — see _asof_union_salted — so sampling
    is safe by construction).

    sample_mod = clamp(target/64, 1, 64): the detection threshold always
    sits at >= ~64 expected sampled rows, so a genuinely hot key is
    flagged with overwhelming probability while a borderline flip either
    way just shifts work between the chunked and plain code paths. The
    sample (keys + ts ordinal only, <= 1/64 of rows) is persisted, so
    the big union is scanned ONCE for stats instead of twice (count pass
    + percentile pass); per-key percentile sketches — the expensive
    state — are still built only for hot keys' sampled rows. With
    sample_mod == 1 (tiny targets, tests) this degrades to the exact
    two-pass form without persisting the full projection.

    The chunk count comes from the same counts: enough chunks that the
    hottest key's chunks hold about target_rows_per_key rows each, at
    least 2 and at most one per shuffle partition. Every hot key gets
    n_chunks - 1 boundaries."""
    from pyspark import StorageLevel

    sample_mod = min(64, max(1, target_rows_per_key // 64))
    proj = _hot_sample(unioned, sample_mod).select(*keys, ord_col.alias("_o"))
    persisted = None
    if sample_mod > 1:
        persisted = proj.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts = (
            proj.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") * sample_mod > target_rows_per_key)
        )
        hot_rows = counts.collect()
        if not hot_rows:
            return [], None
        spark = proj.sparkSession
        hottest = max(r["_n"] for r in hot_rows) * sample_mod
        n_chunks = max(2, min(math.ceil(hottest / target_rows_per_key),
                              shuffle_parts(spark)))
        fracs = [i / n_chunks for i in range(1, n_chunks)]
        hot_keys = spark.createDataFrame(hot_rows, schema=counts.schema) \
            .select(*keys)
        stats = (
            proj.join(F.broadcast(hot_keys), keys, "left_semi")
            .groupBy(*keys)
            .agg(F.percentile_approx("_o", fracs, 10_000).alias(_BNDS))
            .select(*keys, _BNDS)
        )
        return stats.collect(), stats.schema
    finally:
        if persisted is not None:
            persisted.unpersist()


def _chunk_expr(ord_col: Column) -> Column:
    """chunk id = #(boundaries < ts): monotone in ts and a pure function
    of ts, so equal timestamps never straddle a chunk boundary."""
    return F.when(F.col(_BNDS).isNull(), F.lit(0)).otherwise(
        F.aggregate(
            F.col(_BNDS),
            F.lit(0),
            lambda acc, b: acc + F.when(ord_col > b, 1).otherwise(0),
        )
    ).cast("int")


def _asof_union_salted(
    probe: DataFrame,
    data: DataFrame,
    keys: list[str],
    probe_ts: str,
    data_ts: str,
    payload: list[str],
    strict: bool,
    target_rows_per_key: int = 1_000_000,
) -> DataFrame:
    """The union strategy with a hot-key story (reference replica/split
    idea: ExtraStaticSearcher.h:735-753, ExtraDynamicSearcher.h:637-894).

    The plain union plan hashes ONLY on the join keys: one doc_id with
    10^9 versions pins one reducer, and AQE's skew split does not apply
    to Window exchanges. Here a cheap stats pass finds keys whose
    combined probe+data row count exceeds target_rows_per_key and learns
    n_chunks - 1 approximate ts-quantile boundaries per hot key (n_chunks
    derived from the hottest key's count, see _hot_bounds); every row
    then carries a chunk id = #(boundaries < ts), and the running-last
    window partitions on (keys..., chunk) — the hot key's timeline fans
    out over n_chunks reducers.

    Cross-chunk correctness: a probe whose chunk holds no earlier data
    row takes its match from the carry frame — per (hot key, chunk) the
    LAST data payload, rolled forward per key across chunks (a window
    over |hot|×n_chunks rows, driver-negligible), broadcast back and
    coalesced. Chunk ids are a pure function of ts, so equal timestamps
    never straddle a boundary and the strict/inclusive tie discipline
    stays entirely inside pass 1; carried payloads are always strictly
    older than the probe's chunk. Boundary quality affects only LOAD
    BALANCE, never results.

    Cold keys flow through the same plan with chunk 0 (the hot-key map
    is a broadcast join, no per-row when-chain).
    """
    probe_cols = list(probe.columns)
    spark = probe.sparkSession
    unioned = _tagged_union(probe, data, keys, probe_ts, data_ts, payload)
    ord_u = _ts_ordinal(F.col(_TS), probe.schema[probe_ts].dataType)

    # stats pass: heavy hitters + their ts-quantile chunk boundaries.
    hot_rows, hot_schema = _hot_bounds(
        unioned, keys, ord_u, target_rows_per_key
    )
    if not hot_rows:
        return _asof_union(probe, data, keys, probe_ts, data_ts, payload,
                           strict)
    hot = spark.createDataFrame(hot_rows, schema=hot_schema)

    u = unioned.join(F.broadcast(hot), keys, "left") \
        .withColumn(_CHUNK, _chunk_expr(ord_u)).drop(_BNDS)

    # pass 1: running last WITHIN (key, chunk) — the big (and only big)
    # shuffle, now fanned out across chunks for hot keys.
    w = (
        Window.partitionBy(*keys, _CHUNK)
        .orderBy(F.col(_TS).asc(), _tag_order(strict))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *probe_cols,
        F.col(_PROBE_TAG),
        F.col(_CHUNK),
        F.last(_PAY, ignorenulls=True).over(w).alias(_PAY),
    )

    # carry frame: last data payload per (hot key, chunk), rolled forward
    # so chunk c sees the newest payload of chunks < c. Tiny by
    # construction (|hot| × n_chunks rows).
    pay_struct, _ = _pay_struct(data, data_ts, payload)
    ord_d = _ts_ordinal(F.col(data_ts), data.schema[data_ts].dataType)
    d_hot = data.join(F.broadcast(hot), keys) \
        .withColumn(_CHUNK, _chunk_expr(ord_d))
    per_chunk = d_hot.groupBy(*keys, _CHUNK).agg(
        F.max_by(pay_struct, F.col(data_ts)).alias("_cp")
    )
    grid = hot.select(
        *keys, F.explode(
            F.sequence(F.lit(0), F.size(_BNDS))
        ).alias(_CHUNK)
    )
    cw = (
        Window.partitionBy(*keys)
        .orderBy(F.col(_CHUNK).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        grid.join(per_chunk, [*keys, _CHUNK], "left")
        .withColumn("_carry", F.last("_cp", ignorenulls=True).over(cw))
        .select(*keys, _CHUNK, "_carry")
    )

    out = (
        filled.join(F.broadcast(carry), [*keys, _CHUNK], "left")
        .withColumn(_PAY, F.coalesce(F.col(_PAY), F.col("_carry")))
    )
    return _unpack_pay(out, probe_cols, payload)


def _ts_cond(probe_ts_col: Column, data_ts_col: Column, strict: bool) -> Column:
    return data_ts_col < probe_ts_col if strict else data_ts_col <= probe_ts_col


def _asof_broadcast(
    probe: DataFrame,
    data: DataFrame,
    keys: list[str],
    probe_ts: str,
    data_ts: str,
    payload: list[str],
    strict: bool,
) -> DataFrame:
    """Hash join: LEFT OUTER equi-join on the keys with ts <= asof_ts as
    the join condition, then row_number() top-1 per probe row.

    The probe side is preserved, so Spark cannot build its hash table
    from it: the data side is built — ``BroadcastHashJoin LeftOuter,
    BuildRight`` when it fits under autoBroadcastJoinThreshold (the
    reference's broadcast-centroid assignment join, VectorIndex.cpp:
    1144-1254: small side replicated to every task), a sort-merge join
    that shuffles it otherwise. The probe side streams; the top-1 window
    shuffles only the join output.
    """
    # Unique per-row id BEFORE the join: the top-1 window partitions on it,
    # so duplicate probe rows each keep their own match (partitioning on
    # the probe's columns would silently collapse duplicates).
    uid = "__asof_probe_uid"
    p = probe.withColumn(uid, F.monotonically_increasing_id()).alias("p")
    d = data.alias("d")
    cond = _ts_cond(F.col(f"p.{probe_ts}"), F.col(f"d.{data_ts}"), strict)
    for k in keys:
        cond = cond & (F.col(f"p.{k}") == F.col(f"d.{k}"))
    joined = p.join(d, cond, "left")
    w = Window.partitionBy(F.col(f"p.{uid}")).orderBy(
        F.col(f"d.{data_ts}").desc_nulls_last()
    )
    ranked = joined.withColumn("__rn", F.row_number().over(w))
    return ranked.filter(F.col("__rn") == 1).select(
        *[F.col(f"p.{c}").alias(c) for c in probe.columns],
        F.col(f"d.{data_ts}").alias("matched_ts"),
        *[F.col(f"d.{c}").alias(c) for c in payload],
    )
