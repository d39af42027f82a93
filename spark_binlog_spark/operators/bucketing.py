"""Bucketed (co-located) joins and small-file compaction.

At 100 TB, the recurring join key (the primary key) should be bucketed
on disk so repeated joins/aggregations need NO exchange at all: both
sides are pre-hash-partitioned into the same bucket layout, and Spark
plans a zip-style join (SortMergeJoin with no Exchange under it).
This is what the reference's range-repartitioned bootstrap
(README.md:147 repartitionByRange) gestures at; bucketing is the
durable version.

Also: a streaming routing sink appends small files per batch; compaction
rewrites a routed table to healthy file sizes without changing content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, on: str) -> DataFrame:
    """Join two same-bucketed tables on the bucket key — exchange-free."""
    return spark.table(left_table).join(spark.table(right_table), on)


def compact_routed_table(
    spark: SparkSession,
    out_dir: str,
    target_files_per_partition: int = 1,
    db_col: str = "database_name",
    table_col: str = "table_name",
) -> None:
    """Rewrite a routed (partitionBy'd) dataset with healthy file counts.

    Content-preserving: read, coalesce per partition via repartition on
    the partition columns, write to ``<out_dir>.compact`` and swap it in
    with ``safe_swap``, so a crash at any step leaves a complete copy
    that ``recover_dir`` restores (it runs first, for an earlier crash)."""
    from spark_binlog_spark.streaming.swap import recover_dir, safe_swap

    out_dir = out_dir.rstrip("/")
    recover_dir(out_dir)
    df = spark.read.parquet(out_dir)
    compacted = df.repartition(target_files_per_partition, F.col(db_col), F.col(table_col))
    tmp = out_dir + ".compact"
    compacted.write.partitionBy(db_col, table_col).mode("overwrite").parquet(tmp)
    safe_swap(out_dir, tmp)
