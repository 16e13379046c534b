"""Thin table-IO abstraction: Iceberg when available, parquet-dir fallback.

The production target is an Iceberg catalog (BASELINE.json:input_hint); this
sandbox has no Iceberg runtime jar, so the same append/overwrite semantics
are provided over plain parquet directories (SURVEY.md §7.2). All writers use
dynamic partition overwrite so re-running a partition subset is idempotent --
the storage half of the checkpoint/resume contract (plans/checkpoints.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _has_iceberg(spark: SparkSession, table: str) -> bool:
    if "." not in table:
        return False
    catalog = table.split(".", 1)[0]
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def local_frame(spark: SparkSession, columns: dict) -> DataFrame:
    """A small driver-built frame (manifest, metrics rows) from typed
    ``pyarrow`` arrays keyed by column name. A ``pyarrow.Table`` plans as a
    ``LocalTableScan``; a Python list would plan a pickled-RDD scan and
    cost an extra Spark job on every write."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns))


def read_table(spark: SparkSession, table_or_path: str) -> DataFrame:
    if os.path.sep in table_or_path or table_or_path.endswith(".parquet"):
        return spark.read.parquet(table_or_path)
    return spark.read.table(table_or_path)


def append(df: DataFrame, table_or_path: str, partition_by: tuple = ()) -> None:
    if _has_iceberg(df.sparkSession, table_or_path):
        df.writeTo(table_or_path).append()
        return
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(table_or_path)


def overwrite_partitions(df: DataFrame, table_or_path: str,
                         partition_by: tuple) -> None:
    """Replace only the partitions present in `df` (idempotent re-runs)."""
    if _has_iceberg(df.sparkSession, table_or_path):
        df.writeTo(table_or_path).overwritePartitions()
        return
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(table_or_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
