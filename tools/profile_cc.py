"""Profile connected_components fixed costs on a synthetic 1M-edge graph
(VERDICT r6 #7): wall per iteration and Spark JOB count per iteration —
the star loop's per-iteration scheduler overhead is the term that matters
once the corpus is 100x and CC is no longer 2 s of a 345 s wall.

Usage: python tools/profile_cc.py [n_edges] [n_vertices]
"""

from __future__ import annotations

import logging
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from quarrycore_spark.session import get_spark  # noqa: E402


def _capture_iterations() -> list:
    """Collect the star-iteration counts CC logs at INFO."""
    got: list = []

    def keep(record: logging.LogRecord) -> bool:
        if "star iterations" in record.msg:
            got.append(record.args[0])
        return True

    log = logging.getLogger("quarrycore_spark.operators.cc")
    log.setLevel(logging.INFO)
    log.addFilter(keep)
    return got


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_verts = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000
    spark = get_spark("cc-profile", cores=8, shuffle_partitions=16)
    sc = spark.sparkContext

    # deterministic synthetic graph: long chains + random-ish cross edges
    # (xxhash64 as the PRNG so the graph is identical across runs)
    edges = (
        spark.range(n_edges)
        .select(
            (F.abs(F.xxhash64(F.col("id"))) % n_verts).alias("u"),
            (F.abs(F.xxhash64(F.col("id") + 7)) % n_verts).alias("v"),
        )
    )
    verts = spark.range(n_verts).select(F.col("id"))
    edges.persist().count()

    from quarrycore_spark.operators import cc as cc_mod

    logged = _capture_iterations()
    ckpt = tempfile.mkdtemp(prefix="cc_prof_")
    sc.setJobGroup("cc-run", "profiled cc")
    t0 = time.time()
    labels = cc_mod.connected_components(
        edges, verts, checkpoint_dir=ckpt, small_graph_edges=0
    )
    n_clusters = labels.select("cluster_id").distinct().count()
    wall = time.time() - t0
    jobs = sc.statusTracker().getJobIdsForGroup("cc-run")
    iters = logged[-1]
    print(
        f"edges={n_edges} verts={n_verts} clusters={n_clusters} "
        f"iters={iters} wall={wall:.1f}s jobs={len(jobs)} "
        f"jobs/iter={(len(jobs) - 1) / max(iters, 1):.1f} (one job is the final count)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
