"""Spark jobs per warm run of the pair-family registry queries that the
`query-pairs` benchmark drives, on its seeded 400-row tables. At that size
a query's wall is mostly fixed cost per job."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from perfbench import corpus
from perfbench.workloads import QUERY_DOCS, QUERY_VECS, REGISTRY_QUERIES
from quarrycore_spark.operators._cache import release_tracked
from quarrycore_spark.plans.registry import REGISTRY

# Jobs one warm run may start (noop sink). Jobs that read facts the driver
# has — parquet schema inference on every table read, a `.rdd` partition
# count that ran media_phash_pairs' render shuffle once more, the second
# job of a CollectLimit collect — are what this budget keeps out; with
# them the same runs took 10, 4, 6, 8 and 19 jobs.
REGISTRY_JOB_BUDGET = {
    "trigram_jaccard_pairs": 8,
    "doc_fingerprints": 2,
    "embedding_dup_pairs": 4,
    "ann_topk": 5,
    "media_phash_pairs": 16,
}


@pytest.fixture(scope="module")
def seeded_sf(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("registry_sf"))
    documents, embeddings = corpus.registry_tables(QUERY_DOCS, QUERY_VECS, seed=7)
    pq.write_table(documents, os.path.join(sf, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(sf, "embeddings.parquet"))
    for q in REGISTRY_QUERIES:  # the cold run: codegen, Python workers
        REGISTRY[q].run_spark(spark, sf).collect()
    release_tracked(spark)
    return sf


@pytest.mark.parametrize("q", REGISTRY_QUERIES)
def test_registry_job_budget(spark, spark_jobs, seeded_sf, q):
    def run():
        REGISTRY[q].run_spark(spark, seeded_sf).write.format("noop").mode("overwrite").save()

    try:
        jobs = spark_jobs(run)
    finally:
        release_tracked(spark)
    assert jobs <= REGISTRY_JOB_BUDGET[q], f"{q}: {jobs} Spark jobs > {REGISTRY_JOB_BUDGET[q]}"
