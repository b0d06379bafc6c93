"""Catalog DDL + scale-aware physical layout writers (SURVEY.md §2.1 S6/S8/
S10/S12, §7.1 M5).

The reference's DDL executor creates schema + 5 tables idempotently
(includes.py:39-59). Our equivalent targets the Spark catalog; the layout
helpers encode the 100 TB conventions:

- write_partitioned: week/date-partitioned parquet so incremental loads and
  hwm predicates prune partitions (dynamic partition overwrite touches only
  the weeks in the batch);
- register_tables: CREATE TABLE IF NOT EXISTS over existing parquet dirs;
- compact: small-file rewrite through the pipeline's atomic publish.

The bucketed layout (pre-shuffled on the join key, so repeated fact<->fact
joins and MERGEs skip the exchange) lives in sources/bucketing.py.
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from fpl_data_pipeline_spark.pipeline import _publish, recover


def create_schema(spark: SparkSession, name: str = "mylo") -> None:
    """Idempotent database creation (reference sql_queries.py:1)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Partitioned parquet write; with dynamic=True an overwrite only
    replaces the partitions present in ``df`` (safe incremental re-loads)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if dynamic:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def register_table(
    spark: SparkSession, name: str, parquet_path: str
) -> None:
    """CREATE TABLE IF NOT EXISTS over an existing parquet directory —
    schema-on-read from footers, idempotent (reference DDL semantics)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} USING parquet LOCATION '{parquet_path}'"
    )


def compact(
    spark: SparkSession,
    path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. Streaming sinks and per-batch
    incremental merges accumulate thousands of tiny files; at 100 TB the
    scan cost is dominated by file-open overhead and the NameNode/listing
    pressure, so periodic compaction to ~128 MB files is part of the
    engine's storage contract (same reason maxPartitionBytes is 128 MB:
    one task per file). Returns the new file count. Rewrite is staged +
    atomic-renamed like every other publish."""
    # same crash-recovery preamble as every publish: a crash between
    # compact's own two renames leaves the table at .bak only — restore it
    # before sizing it, or the walk finds nothing and the read fails
    recover(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes_per_file))
    _publish(spark.read.parquet(path).repartition(n_files), path)
    return n_files
