"""quarrycore_spark — a from-scratch PySpark-native reimplementation of the
data-processing capabilities of shua-ie/QuarryCore, centered on its
multi-level deduplication core (exact hash → MinHash/LSH → SimHash →
substring overlap → connected-component clustering) over Common-Crawl-style
web-page tables.

Spark-first design: DataFrame/SQL declarative plans optimized by Catalyst;
vectorized pandas/Arrow UDFs only where built-ins cannot express the
semantics (HTML extraction, datasketch-compatible signatures, per-group
suffix arrays). No code is ported from the reference — reference file:line
citations in docstrings exist so parity can be audited.
"""

__version__ = "0.1.0"

from quarrycore_spark.config import DedupConfig  # noqa: F401


def _on_spark_worker() -> bool:
    # set by pyspark.worker_util.setup_spark_files before a task's function
    # is unpickled, and never on the driver
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:
        return False
    return SparkFiles._is_running_on_worker


if _on_spark_worker():
    from quarrycore_spark.session import install_stat_checked_zipimport

    install_stat_checked_zipimport()
