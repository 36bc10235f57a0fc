"""Parquet star-schema loaders (the driver fixture tables, TESTDATA.md).

Scale notes: `spark.read.parquet` is the columnar scan path — Catalyst pushes
filters and prunes columns into the parquet reader (verify via
`plans.explain_has_pushed_filters`). At 100 TB the same call reads a
partitioned table; nothing here changes. We deliberately do NOT cache or
materialize: each query composes its own pruned scan.

Rewrite-in-place: operators persist intermediates built on these scans,
and Spark's CacheManager serves a later equal plan from that block even
after the files under the path were replaced. So ``load_table`` stamps
each table's files (name, size, mtime) per application and, when the stamp
differs from the last read, calls ``spark.catalog.refreshByPath`` first:
that drops the stale blocks and file listings for the path. An unchanged
input triggers no refresh, so shared blocks survive across queries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor: their
# cardinality is fixed (region=5, nation=25) or grows sublinearly. At 100 TB
# these stay broadcast-joinable; fact tables never are.
BROADCASTABLE = {"region", "nation", "supplier", "part", "customer"}

# (applicationId, table path) -> file stamp at this application's last read
_STAMPS: dict[tuple[str, str], tuple] = {}


def _file_stamp(path: str) -> tuple:
    """(name, size, mtime_ns) of every file under ``path`` (a file or a
    directory); empty when the path is not on the local filesystem."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(root, f) for root, _, names in os.walk(path) for f in names]
    stats = ((f, os.stat(f)) for f in files)
    return tuple(sorted((f, st.st_size, st.st_mtime_ns) for f, st in stats))


def _refresh_if_rewritten(spark: SparkSession, path: str) -> None:
    key = (spark.sparkContext.applicationId, path)
    stamp = _file_stamp(path)
    if key in _STAMPS and _STAMPS[key] != stamp:
        spark.catalog.refreshByPath(path)
    _STAMPS[key] = stamp


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    _refresh_if_rewritten(spark, path)
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
        # reader only accepts as a raw long via the legacy conf) and as plain
        # timestamp[us]. Branch on the type the scan actually produced so the
        # loader survives fixture drift: long → µs timestamp; NTZ → session-tz
        # timestamp (session tz is UTC, so the cast is value-preserving and
        # matches DuckDB's naive-timestamp read of the same file).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if isinstance(ts_type, T.TimestampNTZType):
            return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}
