"""read_parquet / footer_schema: the schema parquet inference would give,
read on the driver from a footer, so a table read runs no Spark job."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest
from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import functions as F

from quarrycore_spark.sources.tables import ALL_TABLES, footer_schema, load, read_parquet
from tests.conftest import SF_CORRECT, SF_SMOKE

SF_DIRS = (SF_SMOKE, SF_CORRECT, os.path.join(os.path.dirname(SF_CORRECT), "sf0.1"))


@pytest.mark.parametrize("sf", SF_DIRS)
def test_footer_schema_matches_inference_on_every_table(spark, spark_jobs, sf):
    for name in ALL_TABLES:
        path = os.path.join(sf, f"{name}.parquet")
        got = []
        assert spark_jobs(lambda: got.append(read_parquet(spark, path))) == 0, name
        assert got[0].schema == spark.read.parquet(path).schema, name
    assert spark_jobs(lambda: load(spark, sf)) == 0


def _typed_frame(spark):
    return spark.range(40).select(
        F.col("id"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
        F.lit(dt.datetime(2024, 5, 1, 12, 30)).cast("timestamp_ntz").alias("ts_ntz"),
        F.array(F.col("id").cast("float"), F.lit(0.5).cast("float")).alias("vec"),
        F.col("id").cast("string").cast("binary").alias("raw"),
        F.lit(decimal.Decimal("12.345")).cast("decimal(12,3)").alias("amount"),
        F.when(F.col("id") % 2 == 0, F.lit("x")).alias("maybe"),
    )


def test_footer_schema_of_a_spark_written_directory(spark, spark_jobs, tmp_path):
    path = str(tmp_path / "typed")
    _typed_frame(spark).repartition(3).write.parquet(path)
    assert {"_SUCCESS"} <= set(os.listdir(path))  # hidden files are skipped
    got = []
    assert spark_jobs(lambda: got.append(read_parquet(spark, path))) == 0
    want = spark.read.parquet(path)
    assert got[0].schema == want.schema
    assert dict(got[0].dtypes) == {
        "id": "bigint", "ts": "timestamp", "ts_ntz": "timestamp_ntz", "vec": "array<float>",
        "raw": "binary", "amount": "decimal(12,3)", "maybe": "string",
    }
    assert sorted(got[0].collect()) == sorted(want.collect())


def test_inference_left_to_spark_where_a_footer_cannot_say(spark, tmp_path):
    """A partitioned directory, a glob and an empty directory get None and
    read as Spark infers; a missing path raises Spark's own error."""
    part = str(tmp_path / "part")
    _typed_frame(spark).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(part)
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (part, part + "/k=*", str(empty)):
        assert footer_schema(spark, path) is None
    assert read_parquet(spark, part).schema == spark.read.parquet(part).schema
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing.parquet"))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load(spark, str(tmp_path / "no_sf_dir"), "documents")
