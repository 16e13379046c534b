"""Table-IO abstraction: appends and driver-local control-row writes."""

from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark import catalog


def test_append_accumulates(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).withColumn("p", F.pmod("id", F.lit(2)))
    catalog.append(df, path, partition_by=("p",))
    catalog.append(df, path, partition_by=("p",))
    assert catalog.read_table(spark, path).count() == 20


def test_control_plane_frames_plan_as_local_table_scan(spark):
    """Manifest and metrics frames are built from pyarrow arrays, so they
    plan as a LocalTableScan, never a pickled-RDD scan with its own job."""
    import pyarrow as pa

    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        QualityFilterPipeline,
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    manifest = catalog.local_frame(spark, {
        "bucket": pa.array([0, 3], pa.int32()),
        "n_buckets": pa.array([4, 4], pa.int32()),
    })
    empty = catalog.local_frame(spark, {"bucket": pa.array([], pa.int32())})
    counters = {"docs_in": 5, "docs_kept": 2, "chars_removed": 40,
                "clean_chars": 90, "_unlisted": 0, "min_size": 3}
    pipe = QualityFilterPipeline()
    metrics = catalog.local_frame(spark, pipe.observed_metrics({
        **dict.fromkeys(pipe.reason_vocabulary(), 0), **counters,
    })).withColumn("run_ts", F.lit("2026-01-01T00:00:00Z"))
    for df in (manifest, empty, metrics):
        p = plan(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    assert empty.schema.simpleString() == "struct<bucket:int>"
    assert {(r.rule, r.docs_dropped, r.docs_out, r.partition_id)
            for r in metrics.collect()} == {
        ("_partition_total", 3, 2, None), ("min_size", 3, None, None)}


def test_metrics_dir_mixes_spark_and_pyarrow_parts(spark, tmp_path):
    """A metrics dir holding a Spark-written part from before driver-local
    writes and a ``write_rows`` part reads as one table with the Spark
    part's schema; ``append=False`` replaces what the dir held."""
    import pyarrow as pa

    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        QualityFilterPipeline,
    )

    pipe = QualityFilterPipeline()
    counters = {**dict.fromkeys(pipe.reason_vocabulary(), 0),
                "docs_in": 5, "docs_kept": 2, "chars_removed": 40,
                "clean_chars": 90, "_unlisted": 0, "min_size": 3}
    path = str(tmp_path / "metrics")
    rows = pipe.observed_metrics(counters)
    catalog.append(catalog.local_frame(spark, rows).withColumn(
        "run_ts", F.lit("2026-01-01T00:00:00Z")), path)
    old_schema = spark.read.parquet(path).schema.simpleString()
    assert old_schema == (
        "struct<partition_id:int,rule:string,docs_dropped:bigint,"
        "docs_in:bigint,docs_out:bigint,chars_removed:bigint,"
        "rule_hits:bigint,run_ts:string>")

    catalog.write_rows(rows.append_column(
        "run_ts", pa.array(["2026-01-02T00:00:00Z"] * rows.num_rows)),
        path, append=True)
    both = spark.read.parquet(path)
    assert both.schema.simpleString() == old_schema
    assert sorted((r.run_ts, r.rule, r.docs_dropped) for r in both.collect()) == [
        (ts, rule, n) for ts in ("2026-01-01T00:00:00Z", "2026-01-02T00:00:00Z")
        for rule, n in (("_partition_total", 3), ("min_size", 3))]

    catalog.write_rows(rows, path, append=False)
    assert spark.read.parquet(path).count() == rows.num_rows
    assert "run_ts" not in spark.read.parquet(path).columns
