"""Partition-count guard for CPU-dense kernels.

Spark sizes file-scan partitions by BYTES (spark.sql.files.maxPartitionBytes),
which is right for scan-bound work and wrong for kernels that cost ~100×
the scan per row (signature computation, media decode, winnowing): a 25 MB
corpus becomes 2 scan partitions and the kernel runs almost serially on a
32-core machine. ``spread`` repartitions such inputs up to the session's
default parallelism — only when the plan is BELOW it, so at real scale
(where scans yield thousands of partitions) it is a no-op and adds no
shuffle.

The decision runs no Spark job when the partition count is fixed by a file
scan or by ``repartition(n)`` (see ``_planned_partitions``).
``df.rdd.getNumPartitions()`` would execute every adaptive query stage
under the frame first — on the pipeline's survivor frame, a broadcast join
over the extraction scan, that is one broadcast job per call; on a media
frame (a ``mapInPandas`` over a ``spread`` docs scan), it runs the whole
repartition shuffle once to count its partitions and again for the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# physical nodes that keep their child's partitioning one-to-one
_NARROW = ("ProjectExec", "FilterExec", "MapInPandasExec")


def _planned_partitions(df: DataFrame) -> int | None:
    """df's partition count read from its physical plan, without a job:
    follow narrow nodes and the stream side of a broadcast hash join down
    to a file scan, whose split count the driver computes from the file
    listing, or to a ``repartition(n)`` / ``repartition(n, cols)``
    exchange (origin REPARTITION_BY_NUM), which has exactly n partitions:
    adaptive execution coalesces the exchanges it inserts and those of
    ``repartition(cols)``, never one with a number the caller gave.
    None when anything else fixes the count (any other exchange's
    post-shuffle count is known only after it runs)."""
    node = df._jdf.queryExecution().sparkPlan()
    while True:
        cls = node.getClass().getSimpleName()
        if cls in _NARROW:
            node = node.child()
        elif cls == "BroadcastHashJoinExec":
            left_builds = node.buildSide().toString() == "BuildLeft"
            node = node.right() if left_builds else node.left()
        elif cls == "FileSourceScanExec" and node.partitionFilters().isEmpty():
            # (partition filters may hold a dynamic-pruning subquery that
            # is only executable after physical preparation)
            return node.inputRDDs().head().getNumPartitions()
        elif (
            cls == "ShuffleExchangeExec"
            and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            return node.outputPartitioning().numPartitions()
        else:
            return None


def spread(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions ahead of a CPU-bound
    kernel; no-op when already wider.
    Streaming frames pass through untouched (micro-batch partitioning is
    the source's concern, and `.rdd` is illegal on a streaming plan)."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    n = _planned_partitions(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    return df.repartition(par) if n < par else df
