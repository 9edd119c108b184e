"""Spark jobs and wall per pair-family registry query on seeded tables.

Writes the `query-pairs` benchmark's documents and embeddings tables for a
seed, runs each query once cold (collect), then one warm pass per query
through the noop sink, counting the Spark jobs each warm run starts. At
400-row tables a query's wall is mostly fixed cost per job, so the job
count is the number to watch.

Usage: python tools/registry_jobs.py [seed] [cores]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, ".")

import pyarrow.parquet as pq  # noqa: E402

from perfbench import corpus  # noqa: E402
from perfbench.workloads import QUERY_DOCS, QUERY_VECS, REGISTRY_QUERIES  # noqa: E402
from quarrycore_spark.operators._cache import release_tracked  # noqa: E402
from quarrycore_spark.plans.registry import REGISTRY  # noqa: E402
from quarrycore_spark.session import get_spark  # noqa: E402


def main() -> None:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 7
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("registry-jobs", cores=cores)
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as sf:
        documents, embeddings = corpus.registry_tables(QUERY_DOCS, QUERY_VECS, seed)
        pq.write_table(documents, os.path.join(sf, "documents.parquet"))
        pq.write_table(embeddings, os.path.join(sf, "embeddings.parquet"))
        for q in REGISTRY_QUERIES:
            REGISTRY[q].run_spark(spark, sf).collect()
        release_tracked(spark)
        total = 0
        for q in REGISTRY_QUERIES:
            group = f"registry-jobs-{uuid.uuid4().hex}"
            sc.setJobGroup(group, q)
            t = time.time()
            REGISTRY[q].run_spark(spark, sf).write.format("noop").mode("overwrite").save()
            wall = time.time() - t
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            total += jobs
            print(f"{q:24s} jobs {jobs:3d}  wall {wall * 1000:7.0f} ms")
        release_tracked(spark)
        print(f"{'total':24s} jobs {total:3d}")
    spark.stop()


if __name__ == "__main__":
    main()
