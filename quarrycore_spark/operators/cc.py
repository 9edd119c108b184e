"""Connected-component cluster assignment via large-star / small-star
label propagation (Kiveris et al., "Connected Components in MapReduce and
Beyond") with per-iteration checkpointing and resume.

Spark-native replacement for the reference's greedy one-hop clustering
(minhash_lsh.py:224-241): the greedy grouping is order-dependent; CC is its
order-independent fixpoint (SURVEY §2.3 D16). cluster_id = min doc_id in
the component.

Checkpointing: each iteration optionally writes the edge state to
``{checkpoint_dir}/iter_{i}`` plus a ``manifest.json``; a killed run resumes
from the last completed iteration (north-rule resumability). Without a
checkpoint dir, ``localCheckpoint()`` truncates lineage in memory.
Read-backs pass a schema (the one just written, or the footer's on
resume), so none runs a schema-inference job.
"""

from __future__ import annotations

import json
import logging
import os

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from quarrycore_spark.sources.tables import read_parquet

log = logging.getLogger(__name__)

# 31-bit modulus: per-edge term <= 32*2^31 and the sum stays far inside
# int64 even at 10^9 edges; ids may be full-range (negative) xxhash64 values,
# hence pmod.
_CHECKSUM_P = (1 << 31) - 1


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(Γ(u) ∪ {u}).

    Window-min over ONE exchange on u instead of groupBy + self-join (two
    exchanges of the full symmetric edge list): the per-iteration exchange
    count is the star loop's dominant fixed cost (VERDICT r6 #7 — profiled
    at 10.6 AQE jobs/iteration with the join form, 6.8 with this one;
    1M-edge synthetic graph, tools/profile_cc.py, wall 20.5 s → 16.5 s).
    The output is deliberately NOT deduplicated here: min() downstream is
    duplicate-insensitive, row count stays one per directed v>u edge, and
    `_small_star`'s closing distinct dedupes the iteration's result — one
    distinct per round instead of two."""
    sym = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high→low; connect each low neighbor and the high node to
    the minimum low neighbor. Same window-min-over-one-exchange shape as
    `_large_star`; the star (hi→m) rows are emitted once per input edge
    rather than once per hi — the closing distinct collapses them, and it
    also absorbs `_large_star`'s duplicates (see there)."""
    dir_ = edges.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).filter(F.col("hi") != F.col("lo"))
    dm = dir_.withColumn("m", F.min("lo").over(Window.partitionBy("hi")))
    relink = (
        dm.filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("u"), F.col("m").alias("v"))
    )
    star = dm.select(F.col("hi").alias("u"), F.col("m").alias("v"))
    return relink.union(star).distinct()


def _checksum_cols():
    term = (F.pmod(F.col("u"), F.lit(_CHECKSUM_P)) * 31
            + F.pmod(F.col("v"), F.lit(_CHECKSUM_P))) % _CHECKSUM_P
    return [F.count(F.lit(1)).alias("n"), F.sum(term).alias("s")]


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(*_checksum_cols()).collect()[0]
    return (row["n"] or 0, row["s"] or 0)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    checkpoint_dir: str | None = None,
    max_iter: int = 50,
    resume: bool = True,
    min_checkpoint_edges: int = 1_000_000,
    small_graph_edges: int = 100_000,
) -> DataFrame:
    """edges(u,v) + vertices(id) → (doc_id, cluster_id).

    cluster_id = min vertex id reachable; singletons map to themselves.

    Graphs at or below ``small_graph_edges`` are solved by a driver-side
    union-find over a BOUNDED collect (a dedup edge graph is usually tiny
    relative to the corpus): milliseconds instead of an iterative loop of
    Spark jobs whose per-job latency dwarfs the work. Above the threshold,
    large-star/small-star label propagation runs distributed.

    Resumability granularity: iterations write parquet + manifest only at
    or above ``min_checkpoint_edges`` — between ``small_graph_edges`` and
    that threshold the loop runs in memory, so a killed run in that band
    RESTARTS the loop rather than resuming mid-iteration (the whole loop is
    seconds at that size; redoing it is cheaper than the parquet barriers).
    A stale manifest from a previous run is only honored when
    ``resume=True`` AND its recorded input identity — the (count, checksum)
    of the deduplicated edge input, written into every manifest — matches
    this run's input. A manifest from a different edge set (or a legacy
    manifest without the identity) is ignored with a warning and the loop
    restarts from iteration 0 instead of silently resuming wrong state.
    """
    spark = edges.sparkSession
    start_iter = 0
    state = edges.select("u", "v").filter(F.col("u") != F.col("v")).distinct()

    if small_graph_edges > 0:
        # ONE job for the whole small-graph fast path: limit+collect without
        # a prior checkpoint (the usual dedup graph is tiny; a checkpoint
        # job before knowing the size would double the fixed cost).
        head = state.limit(small_graph_edges + 1).collect()
        if len(head) <= small_graph_edges:
            return _union_find_labels(spark, head, vertices)

    # Big graph: truncate the (possibly expensive) input lineage before
    # iterating — each star round + checksum would otherwise re-evaluate it.
    # (Costs one extra evaluation of the distinct right after the size
    # probe; amortized over the iterative loop it protects.)
    state = state.localCheckpoint()

    # Identity of THIS run's edge input (one aggregate job — the loop it
    # guards is many jobs). Also serves as the loop's initial convergence
    # checksum on a fresh start.
    input_sum = _checksum(state)

    manifest_path = os.path.join(checkpoint_dir, "manifest.json") if checkpoint_dir else None
    prev_sum = input_sum
    if manifest_path and resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            man = json.load(f)
        rec = man.get("input")
        if rec is not None and tuple(rec) == input_sum:
            start_iter = man["iteration"] + 1
            state = read_parquet(spark, man["path"])
            prev_sum = (man["edges"], man["checksum"])
            if man.get("converged"):
                return _labels(state, vertices)
        else:
            log.warning(
                "connected_components: checkpoint manifest at %s records a "
                "different edge input (or none) — restarting from iteration "
                "0 instead of resuming stale state", manifest_path,
            )
    converged = False
    iterations = 0
    for it in range(start_iter, max_iter):
        # size the iteration to the edge count: a dup-pair graph is tiny
        # relative to the corpus, and 32-task jobs over a few thousand
        # edges are pure scheduler overhead
        n_parts = max(1, min(
            spark.sparkContext.defaultParallelism, prev_sum[0] // 100_000 + 1
        ))
        state = _small_star(_large_star(state)).coalesce(n_parts)
        # ONE action per iteration: the convergence checksum rides along
        # with the materialization instead of re-scanning the state.
        # Parquet round-trips only pay off when there is real state to
        # protect: below the threshold an iteration costs milliseconds to
        # redo, so in-memory truncation wins (no resume granularity lost
        # that matters — the whole CC job is seconds at that size).
        wrote_parquet = checkpoint_dir is not None and prev_sum[0] >= min_checkpoint_edges
        if wrote_parquet:
            path = os.path.join(checkpoint_dir, f"iter_{it}")
            obs = Observation(f"cc_iter_{it}")
            state.observe(obs, *_checksum_cols()).write.mode("overwrite").parquet(path)
            got = obs.get
            cur = (got["n"] or 0, got["s"] or 0)
            state = spark.read.schema(state.schema).parquet(path)
        else:
            state = state.localCheckpoint(eager=False)
            cur = _checksum(state)  # this action materializes the checkpoint
        converged = cur == prev_sum
        # only record resumable iterations — in-memory ones have no path
        if manifest_path and wrote_parquet:
            tmp = manifest_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {"iteration": it, "path": os.path.join(checkpoint_dir, f"iter_{it}"),
                     "converged": converged, "edges": cur[0], "checksum": cur[1],
                     "input": list(input_sum)},
                    f,
                )
            os.replace(tmp, manifest_path)  # atomic, like the reference's
            # checkpoint writes (utils/atomic.py)
        iterations += 1
        if converged:
            break
        prev_sum = cur
    log.info("connected_components: %d star iterations", iterations)
    if not converged:
        # Non-star state can carry several rows per vertex; min-aggregate so
        # the output stays one row per doc_id instead of silently duplicating.
        log.warning(
            "connected_components: no fixpoint after %d iterations; "
            "emitting min-label assignment over the last state", max_iter
        )
    return _labels(state, vertices, aggregate=not converged)


def _union_find_labels(
    spark: SparkSession, edge_rows: list, vertices: DataFrame
) -> DataFrame:
    """Driver-side union-find for bounded edge lists; cluster_id = min id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        u, v = row["u"], row["v"]
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the root IS the cluster id
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    if not parent:
        return vertices.select(
            F.col(vertices.columns[0]).alias("doc_id"),
            F.col(vertices.columns[0]).alias("cluster_id"),
        )
    # from an Arrow table the JVM builds the frame itself; a list of tuples
    # would become a Python RDD, whose tasks start Python workers
    roots = spark.createDataFrame(pa.table({
        "u": pa.array(list(parent), pa.int64()),
        "v": pa.array([find(n) for n in parent], pa.int64()),
    }))
    return _labels(roots, vertices)


def _labels(star_edges: DataFrame, vertices: DataFrame, aggregate: bool = False) -> DataFrame:
    """Final star edges (child→root) + vertex set → full assignment."""
    roots = star_edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    if aggregate:
        roots = roots.groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
    return (
        vertices.select(F.col(vertices.columns[0]).alias("doc_id"))
        .join(roots, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
        )
    )
