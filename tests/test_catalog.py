"""Table-IO abstraction: append + idempotent partition overwrite semantics."""

from pyspark.sql import functions as F

from wikisource_latin_text_cleaner_spark import catalog


def test_append_accumulates(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).withColumn("p", F.pmod("id", F.lit(2)))
    catalog.append(df, path, partition_by=("p",))
    catalog.append(df, path, partition_by=("p",))
    assert catalog.read_table(spark, path).count() == 20


def test_overwrite_partitions_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.range(100).withColumn("p", F.pmod("id", F.lit(4)))
    catalog.append(base, path, partition_by=("p",))

    # rewrite only partition p=1 with new content; p=0,2,3 untouched
    repl = spark.range(5).withColumn("id", F.col("id") + 1000).withColumn("p", F.lit(1))
    catalog.overwrite_partitions(repl, path, partition_by=("p",))
    out = catalog.read_table(spark, path)
    assert out.where("p = 1").count() == 5
    assert out.where("p != 1").count() == 75
    # idempotent: same overwrite again -> same state
    catalog.overwrite_partitions(repl, path, partition_by=("p",))
    assert catalog.read_table(spark, path).count() == 80


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
    metrics = pipe.observed_metrics(spark, {
        **dict.fromkeys(pipe.reason_vocabulary(), 0), **counters,
    }).withColumn("run_ts", F.lit("2026-01-01T00:00:00Z"))
    for df in (manifest, empty, metrics):
        p = plan(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    assert empty.schema.simpleString() == "struct<bucket:int>"
    assert {(r.rule, r.docs_dropped, r.docs_out, r.partition_id)
            for r in metrics.collect()} == {
        ("_partition_total", 3, 2, None), ("min_size", 3, None, None)}
