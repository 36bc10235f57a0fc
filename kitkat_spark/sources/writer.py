"""Batch write path: partitioned, size-controlled parquet layout + compaction.

The reference only writes to stdout / Kinesis (SURVEY §2.A K1/K2); a 100 TB
engine also needs a disciplined TABLE write path, because downstream read
performance is decided at write time:

- **Partition columns** give coarse pruning (`lang=en/` directories mean a
  language-filtered scan touches 1/K of the files; Catalyst's
  PruneFileSourcePartitions elides the rest without listing them).
- **File sizing** via ``maxRecordsPerFile`` bounds the small-files problem:
  a 1000-executor job writing 32k tasks x K partitions would otherwise emit
  millions of KB-sized files and destroy NameNode/listing performance.
- **Sort within partitions** makes parquet min/max row-group stats selective
  for the sort key, so point/range reads skip row groups (poor man's
  clustering index — no shuffle beyond the partition exchange itself).
- **Compaction** rewrites a fragmented table to ~target-sized files; the
  streaming parquet sink (streaming/sinks.py) appends per micro-batch, so a
  long-running stream NEEDS periodic compaction of closed partitions.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# every scratch_dir handed out in this process; removed at interpreter exit
_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch_dirs() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


def scratch_dir(prefix: str) -> str:
    """A fresh local directory for one materialized intermediate, removed at
    process exit. Fresh per call (mkdtemp's random suffix also keeps
    concurrent processes apart): a live DataFrame from an earlier write still
    lists that write's part files, so a rewrite must never reuse its dir."""
    path = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch_dirs)
    _SCRATCH_DIRS.append(path)
    return path


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_within: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a partitioned parquet table with bounded file sizes.

    One repartition on the partition columns co-locates each output
    partition's rows into one task (otherwise EVERY task writes a file into
    EVERY partition directory: tasks x partitions files). With
    ``sort_within``, rows are additionally ordered inside each file so
    parquet row-group stats prune reads on that key.
    """
    out = df.repartition(*[F.col(c) for c in partition_by])
    if sort_within:
        out = out.sortWithinPartitions(*partition_by, *sort_within)
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_file_rows: int = 1_000_000,
    partition_by: list[str] | None = None,
) -> None:
    """Rewrite a fragmented parquet table into ~target-sized files.

    Reads the table, coalesces to ceil(rows / target) files (per partition
    when ``partition_by`` is given), and atomically-enough replaces the data
    via overwrite of a sibling temp path + swap. On object stores use a
    table format (Iceberg/Delta) for true atomicity; this helper is the
    layout operation itself.
    """
    import math
    import shutil
    import tempfile
    import os

    df = spark.read.parquet(path)
    n = df.count()
    files = max(1, math.ceil(n / target_file_rows))
    tmp = tempfile.mkdtemp(prefix="compact-")
    tmp_out = os.path.join(tmp, "data")
    if partition_by:
        write_partitioned(df, tmp_out, partition_by, max_records_per_file=target_file_rows)
    else:
        df.coalesce(files).write.mode("overwrite").option(
            "maxRecordsPerFile", target_file_rows
        ).parquet(tmp_out)
    # swap: rename the live table aside FIRST so a crash or a failed
    # cross-filesystem move never leaves the only copy stranded in /tmp —
    # the old data survives at ``<path>.compact-old`` until the new data
    # is in place, and is restored if the move fails.
    old = path.rstrip("/") + ".compact-old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        shutil.move(tmp_out, path)
    except BaseException:
        if not os.path.exists(path):
            os.rename(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
