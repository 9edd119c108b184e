"""SparkSession factory tuned for the dedup workload.

Local-mode defaults match the sandbox (local[32], single JVM); on a real
cluster the same builder is used with master/memory supplied by
spark-submit. AQE is on so skewed LSH-bucket joins are split at runtime.
Python-worker tuning lives here too: allocator settings the workers inherit
(``WORKER_ALLOC_ENV``) and stat-checked zip importers, which stop every task
from re-reading pyspark.zip's and the Spark jar's directories
(``install_stat_checked_zipimport``). The generated-code cache is sized
to hold a whole pipeline pass (``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


# Allocator tuning for the Python workers (the signature/extraction hot
# path). The per-batch work frees almost everything it allocates; with
# default settings that memory is returned to the OS (pymalloc unmaps
# empty 1 MB arenas, glibc trims the heap and mmaps blocks > 128 KB) and
# the NEXT batch page-faults it straight back in. On this sandbox the
# fault handler is machine-wide serialized, so that churn is a
# non-scaling cost: measured with tools/profile_sig_kernel.py, the prep
# phase scales 1->4 procs at 0.47 with default allocators and 0.87 with
# these settings (whole kernel 0.85 -> 0.97), at unchanged 1-proc wall.
# On a production cluster the same settings are standard "keep the heap"
# tuning: they trade peak-RSS retention for zero munmap/fault round
# trips in steady state. Workers are single-threaded, so routing
# PyObject allocation through glibc malloc (PYTHONMALLOC=malloc) with
# trim disabled gives full recycling of the string churn.
WORKER_ALLOC_ENV = {
    "PYTHONMALLOC": "malloc",
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),   # never trim the heap back
    "MALLOC_MMAP_THRESHOLD_": str(128 << 20), # numpy scratch stays on heap
    "MALLOC_TOP_PAD_": str(64 << 20),         # grow sbrk in big steps
}


def apply_worker_alloc_env() -> None:
    """Export WORKER_ALLOC_ENV so Spark's Python workers inherit it.

    Must run BEFORE the JVM is launched (the pyspark daemon — and the
    workers it forks — inherit the JVM's environment). Values already
    present in the environment win, so a caller can A/B-override.
    """
    for k, v in WORKER_ALLOC_ENV.items():
        os.environ.setdefault(k, v)


def _zip_stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


class StatCheckedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive's
    central directory only when the archive's (mtime_ns, size, inode)
    changed since the last read.

    The stock method re-reads it on every call, and Spark's Python worker
    calls ``importlib.invalidate_caches()`` once per task
    (``pyspark.worker_util.setup_spark_files``). A warm worker holds 16
    zipimporters over pyspark.zip, the spark-core jar and py4j, so that one
    call re-reads ~30k directory entries, 0.2-0.3 s, on every task. A
    changed or deleted archive is handled exactly as the stock method
    handles it. The stat is taken before the read, so a read is never
    credited to a newer archive than the one it saw.
    """

    _stat = None  # archive stat taken before the last read; None: unknown

    def invalidate_caches(self):
        stat = _zip_stat(self.archive)
        if stat is not None and stat == self._stat:
            return
        super().invalidate_caches()
        self._stat = stat


def install_stat_checked_zipimport() -> None:
    """Make every zipimporter of this process a StatCheckedZipImporter.

    Existing importers in ``sys.path_importer_cache`` change class in place,
    so the loaders of modules already imported from them are covered too.
    Each archive is then read once, and its importers share that read and
    its stat. ``sys.path_hooks`` gets the subclass, so importers created
    later (for ``addPyFile`` zips) are stat-checked from the start; each
    reads its archive on its first invalidate. Idempotent.
    """
    by_archive: dict = {}
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = StatCheckedZipImporter
            by_archive.setdefault(finder.archive, []).append(finder)
    sys.path_hooks[:] = [
        StatCheckedZipImporter if h is zipimport.zipimporter else h
        for h in sys.path_hooks
    ]
    for first, *rest in by_archive.values():
        first.invalidate_caches()
        for finder in rest:
            finder._files, finder._stat = first._files, first._stat


def ensure_py_files(spark: SparkSession) -> None:
    """Ship the quarrycore_spark package to Python workers via addPyFile.

    Required whenever the SparkSession was created by an external driver
    (the grading harness, spark-submit without --py-files): the driver
    process can import the package from the repo path, but executor Python
    workers have their own sys.path. Equivalent to
    `spark-submit --py-files quarrycore_spark.zip`. The context's file
    list says whether this application already has the zip.
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        "/tmp", f"quarrycore_spark_{os.getpid()}.zip"
    )
    if f"file:{zip_path}" in spark.sparkContext.listFiles:
        return
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "quarrycore_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)


# Entries in Spark's cache of compiled generated classes
# (spark.sql.codegen.cache.maxEntries, default 100; a static conf, so it is
# set when the session is built). The cache is an LRU keyed by generated
# source, and the working sets measured here are larger than the default:
# one warm 1,000-page pipeline pass generates ~150 distinct sources, the
# five pair-family registry queries ~120, one streaming epoch ~20. An LRU
# smaller than the set a loop cycles through hits nothing: each class is
# evicted before the loop reaches it again, so every warm pass recompiled
# 140-144 classes with Janino (~0.8 s on the pass's serial path). At 2,000
# entries the first three warm passes compiled 8, 4 and 0.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "quarrycore_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    apply_worker_alloc_env()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # let AQE re-coalesce partitions downstream of persisted plans —
        # without this, a cached exploded-bands table pins shuffle-partition
        # count and small-data joins drown in per-task overhead
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # read small test parquet with enough splits to use all cores
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # NOTE: an earlier revision disabled spark.sql.constraintPropagation
        # to dodge a Spark 4.1 UnionBase.rewriteConstraints
        # NoSuchElementException on unions of localCheckpointed
        # aggregate-derived branches; the round-2 pipeline restructure
        # removed that plan shape and the default optimizer passes again.
    )
    # local mode: workers inherit via the JVM env (apply_worker_alloc_env
    # above); cluster mode: executors get the same tuning via executorEnv.
    for k, v in WORKER_ALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
