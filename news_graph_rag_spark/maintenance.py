"""Table maintenance: small-files compaction.

Continuous streaming ingest (one parquet file per micro-batch per
partition) degrades every later scan: file-open overhead, tiny row
groups, no effective column-chunk compression. At 100 TB the scan cost
difference between 128 MB files and 100 KB files is the difference
between an IO-bound job and a metadata-bound one. ``compact_parquet``
rewrites a directory into size-targeted files in a staging dir and
swaps it in with ``publish.replace``: the live dir retires, the staged
one renames in. Between those two renames the path does not exist, so
a reader opening it then fails; it never sees a half-written mix of
old and new files.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from . import publish


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files_to_compact: int = 2,
) -> int:
    """Rewrite ``path`` into ``ceil(bytes / target)`` parquet files.

    Returns the new file count (or the old one if no compaction was
    needed). The rewrite goes to a staging directory first and swaps in
    (module doc), so a reader never sees a half-written mix. A
    round-robin repartition spreads rows evenly regardless of the input
    file-size distribution (no shuffle key needed — compaction must not
    change ordering guarantees, which parquet directories don't have).
    """
    n_files = parquet_file_count(path)
    if n_files < min_files_to_compact:
        return n_files
    n_out = max(1, math.ceil(parquet_bytes(path) / target_file_bytes))
    if n_out >= n_files:
        return n_files

    path = path.rstrip("/")
    with publish.staged(path) as staging:
        spark.read.parquet(path).repartition(n_out).write.parquet(staging)
        publish.replace(path, staging)
    return parquet_file_count(path)
