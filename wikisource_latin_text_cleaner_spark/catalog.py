"""Thin table-IO abstraction: Iceberg when available, parquet-dir fallback.

The production target is an Iceberg catalog (BASELINE.json:input_hint); this
sandbox has no Iceberg runtime jar, so appends go to plain parquet
directories (SURVEY.md §7.2). The bucketed output is written by
``plans/checkpoints.run_resumable``, which picks static overwrite for a full
run and dynamic partition overwrite for a resume, so re-running a bucket
subset is idempotent.

Driver-built control rows (the checkpoint manifest, per-run metrics rows)
skip Spark: ``write_rows`` writes them as one ``pyarrow`` parquet file per
call, so they cost no Spark job.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def is_iceberg(spark: SparkSession, table: str) -> bool:
    if "." not in table:
        return False
    catalog = table.split(".", 1)[0]
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def local_frame(spark: SparkSession, columns) -> DataFrame:
    """A small driver-built frame from a ``pyarrow.Table`` or typed
    ``pyarrow`` arrays keyed by column name. A ``pyarrow.Table`` plans as a
    ``LocalTableScan``; a Python list would plan a pickled-RDD scan and
    cost an extra Spark job on every write."""
    return spark.createDataFrame(pa.table(columns))


def local_path(path: str) -> str:
    """``path`` itself when it names a driver-local path. A ``scheme://``
    URI raises: control files are read and written with local file IO, so
    an ``s3a://`` path would silently become a local ``s3a:`` directory."""
    if _URI.match(path):
        raise ValueError(
            f"{path} is a URI; checkpoint and metrics files are written on "
            "the driver's file system, so pass a local (or mounted) path"
        )
    return path


def write_rows(table: pa.Table, path: str, append: bool) -> None:
    """Write ``table`` as one new parquet file in the directory ``path``,
    with ``pyarrow`` on the driver: no Spark job. The file is written under
    a ``.``-prefixed name, which Spark and ``pyarrow`` readers skip, and
    then renamed into place, so a crash leaves no half-written part.
    ``append=False`` first removes what the directory held."""
    local_path(path)
    if not append:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def read_table(spark: SparkSession, table_or_path: str) -> DataFrame:
    if os.path.sep in table_or_path or table_or_path.endswith(".parquet"):
        return spark.read.parquet(table_or_path)
    return spark.read.table(table_or_path)


def append(df: DataFrame, table_or_path: str, partition_by: tuple = ()) -> None:
    if is_iceberg(df.sparkSession, table_or_path):
        df.writeTo(table_or_path).append()
        return
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(table_or_path)

