"""spread(): the partition-count decision ahead of CPU-bound kernels runs
no Spark job on scan-rooted plans (broadcast joins and mapInPandas over a
scan included) or behind repartition(n), and agrees with the count `.rdd`
reports."""

from __future__ import annotations

from pyspark.sql import functions as F

from quarrycore_spark.operators._partitioning import _planned_partitions, spread


def test_spread_is_job_free_over_broadcast_join(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "scan")
    spark.range(2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("text "), F.col("id")).alias("text")
    ).repartition(3).write.parquet(path)
    scan = spark.read.parquet(path)
    # the pipeline's survivor shape: a broadcast id side that needs a
    # shuffle of its own, joined to the text scan
    ids = F.broadcast(scan.filter("doc_id % 3 = 0").groupBy("doc_id").count().select("doc_id"))
    survivors = ids.join(scan.select("doc_id", "text"), "doc_id")

    par = spark.sparkContext.defaultParallelism
    for df in (scan, survivors):
        planned = []
        assert spark_jobs(lambda: planned.append(_planned_partitions(df))) == 0
        assert planned[0] == df.rdd.getNumPartitions() == 3
        spread_out = []
        assert spark_jobs(lambda: spread_out.append(spread(df))) == 0
        assert spread_out[0].rdd.getNumPartitions() == par

    # a scan already as wide as the cluster passes through, also job-free
    wide_path = str(tmp_path / "wide")
    scan.repartition(par).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    kept = []
    assert spark_jobs(lambda: kept.append(spread(wide))) == 0
    assert kept[0] is wide and wide.rdd.getNumPartitions() == par


def test_spread_falls_back_past_an_exchange(spark):
    """A frame whose count an exchange fixes keeps the `.rdd` decision."""
    agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    assert _planned_partitions(agg) is None
    par = spark.sparkContext.defaultParallelism
    assert agg.rdd.getNumPartitions() < par
    wide = spread(agg)
    assert _planned_partitions(wide) == par
    assert wide.rdd.getNumPartitions() == par
    assert spread(wide) is wide


def test_spread_is_job_free_through_map_in_pandas(spark, spark_jobs, tmp_path):
    """mapInPandas keeps its child's partitions: over a scan, and over a
    spread (repartition(n)) scan — the media frame's shape."""

    def identity(batches):
        yield from batches

    path = str(tmp_path / "scan")
    spark.range(500).repartition(3).write.parquet(path)
    scan = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    narrow = scan.mapInPandas(identity, schema=scan.schema)
    widened = spread(scan).mapInPandas(identity, schema=scan.schema)
    for df, n in ((narrow, 3), (widened, par)):
        planned, spread_out = [], []
        assert spark_jobs(lambda: planned.append(_planned_partitions(df))) == 0
        assert spark_jobs(lambda: spread_out.append(spread(df))) == 0
        assert planned[0] == df.rdd.getNumPartitions() == n
        assert spread_out[0].rdd.getNumPartitions() == par
    assert spread(widened) is widened


def test_spread_is_job_free_behind_repartition_by_number(spark, spark_jobs):
    """repartition(n), with or without columns, fixes n partitions, which
    adaptive execution never coalesces; repartition by columns alone
    leaves the count to adaptive execution and keeps the `.rdd` fallback."""
    par = spark.sparkContext.defaultParallelism
    base = spark.range(100)
    for df, n in (
        (base.repartition(2), 2), (base.repartition(par), par), (base.repartition(par + 3, "id"), par + 3)
    ):
        planned = []
        assert spark_jobs(lambda: planned.append(_planned_partitions(df))) == 0
        assert planned[0] == df.rdd.getNumPartitions() == n
    assert _planned_partitions(base.repartition("id")) is None
