"""Physical layout jobs: range-partitioned, sorted, compacted storage.

The reference's build pipeline ends with a global sort of (head_id, dist)
to group postings (SortSelections, VectorIndex.cpp:1138-1142) and packs
them into page-aligned files (ExtraStaticSearcher.h:1345-1705); SPFresh
merges underflowing postings (ExtraDynamicSearcher.h:895-1146). Spark
equivalents:

- write_range_sorted: repartitionByRange(key, ts) +
  sortWithinPartitions — the exact range-partition + local-sort idiom a
  per-key as-of scan and Parquet min/max (zone-map) pruning want. Emits
  a per-output lineage record (rows, min/max ts, digest).
- compact_small_files: read + repartition to target file count + rewrite
  (Iceberg rewrite_data_files stand-in; reference merge T5).

Sorted parquet => every file's column min/max covers a tight ts range =>
`WHERE ts BETWEEN ...` scans skip whole files; at 10^12 rows that IS the
reference's tree-pruned search, done by the storage layer.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sptag_spark.sources.manifest import Manifest, digest_frame


def write_range_sorted(
    df: DataFrame,
    out_dir: str,
    range_cols: list[str],
    sort_cols: list[str] | None = None,
    n_partitions: int | None = None,
    ts_col: str | None = None,
) -> dict:
    """Range-partition on range_cols, sort each partition by sort_cols
    (default: range_cols), write parquet, record lineage. Returns the
    lineage stats dict."""
    sort_cols = sort_cols or range_cols
    parted = (
        df.repartitionByRange(n_partitions, *range_cols)
        if n_partitions else df.repartitionByRange(*range_cols)
    )
    parted.sortWithinPartitions(*sort_cols) \
        .write.mode("overwrite").parquet(os.path.join(out_dir, "data"))
    spark = df.sparkSession
    written = spark.read.parquet(os.path.join(out_dir, "data"))
    stats = digest_frame(written, ts_col=ts_col)
    manifest = Manifest(out_dir)
    manifest.record(0, {**stats, "layout": "range_sorted",
                        "range_cols": range_cols, "sort_cols": sort_cols})
    return stats


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite a parquet directory into ~target-sized files. Returns
    {files_before, files_after, bytes}. The digest is invariant (tested):
    compaction changes layout, never content."""
    from pathlib import Path

    files = [p for p in Path(path).rglob("*.parquet")]
    bytes_total = sum(p.stat().st_size for p in files)
    n_files = max(1, math.ceil(bytes_total / target_file_bytes))
    df = spark.read.parquet(path)
    before = digest_frame(df)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    after = digest_frame(spark.read.parquet(tmp))
    assert after["digest"] == before["digest"], "compaction changed data"
    # atomic-ish swap
    import shutil
    shutil.rmtree(path)
    os.replace(tmp, path)
    return {
        "files_before": len(files),
        "files_after": n_files,
        "bytes": bytes_total,
    }
