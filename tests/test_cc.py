"""Connected components: equivalence vs networkx + checkpoint/resume."""

from __future__ import annotations

import random

import networkx as nx
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from quarrycore_spark.operators.cc import _labels, connected_components


def _random_graph(seed: int, n: int, m: int):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(u, v) for u, v in edges if u != v]
    return n, edges


@pytest.mark.parametrize("small_thresh", [100_000, 0])  # union-find path / star loop
@pytest.mark.parametrize("seed,n,m", [(1, 50, 40), (2, 200, 150), (3, 300, 500)])
def test_cc_matches_networkx(spark, seed, n, m, small_thresh):
    n, edges = _random_graph(seed, n, m)
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges)
    expected = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for node in comp:
            expected[node] = root

    edf = spark.createDataFrame(edges or [(0, 0)], "u long, v long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            edf, vdf, small_graph_edges=small_thresh
        ).collect()
    }
    assert got == expected


def test_cc_checkpoint_resume(spark, tmp_path):
    n, edges = _random_graph(7, 100, 80)
    edf = spark.createDataFrame(edges, "u long, v long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    ckpt = str(tmp_path / "cc")
    # min_checkpoint_edges=0 forces the parquet path on this tiny graph
    # (real runs only checkpoint above the threshold)
    full = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            edf, vdf, checkpoint_dir=ckpt, min_checkpoint_edges=0, small_graph_edges=0
        ).collect()
    }
    # Simulate a resumed run: manifest exists, should short-circuit/converge
    resumed = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            edf, vdf, checkpoint_dir=ckpt, min_checkpoint_edges=0, small_graph_edges=0
        ).collect()
    }
    assert resumed == full

    # And a "killed mid-run" resume: rewind the manifest to iteration 0
    import json
    import os

    man_path = os.path.join(ckpt, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    man["converged"] = False
    man["iteration"] = 0
    man["path"] = os.path.join(ckpt, "iter_0")
    with open(man_path, "w") as f:
        json.dump(man, f)
    rewound = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            edf, vdf, checkpoint_dir=ckpt, min_checkpoint_edges=0, small_graph_edges=0
        ).collect()
    }
    assert rewound == full


def test_cc_resume_rejects_changed_edge_input(spark, tmp_path):
    """A manifest from a DIFFERENT edge set must not be resumed: the
    manifest records the input's (count, checksum) and a mismatch restarts
    the loop from iteration 0 — resuming another graph's star state would
    silently merge its components into this run's answer."""
    import networkx as nx

    n, edges_a = _random_graph(11, 120, 90)
    _, edges_b = _random_graph(12, 120, 90)  # same sizes, different graph
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    ckpt = str(tmp_path / "cc_guard")
    # run A populates the manifest (converged=True recorded)
    connected_components(
        spark.createDataFrame(edges_a, "u long, v long"), vdf,
        checkpoint_dir=ckpt, min_checkpoint_edges=0, small_graph_edges=0,
    ).collect()
    # run B with resume=True over A's manifest: must RESTART, not resume —
    # with a converged manifest honored, the loop would short-circuit and
    # return A's clusters for B's edges
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(edges_b, "u long, v long"), vdf,
            checkpoint_dir=ckpt, min_checkpoint_edges=0, small_graph_edges=0,
        ).collect()
    }
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges_b)
    expected = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for node in comp:
            expected[node] = root
    assert got == expected


def test_cc_small_graph_skips_parquet(spark, tmp_path):
    """Below min_checkpoint_edges the loop stays in memory: no per-iteration
    parquet, no manifest — and the labels are still correct."""
    import os

    n, edges = _random_graph(11, 60, 40)
    edf = spark.createDataFrame(edges, "u long, v long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    ckpt = str(tmp_path / "cc_small")
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edf, vdf, checkpoint_dir=ckpt).collect()
    }
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges)
    expected = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for node in comp:
            expected[node] = root
    assert labels == expected
    assert not os.path.exists(os.path.join(ckpt, "manifest.json"))


@pytest.mark.parametrize(
    "name,edges,n",
    [
        ("path", [(i, i + 1) for i in range(256)], 257),
        ("star", [(0, i) for i in range(1, 257)], 257),
        ("two-chains", [(i, i + 2) for i in range(254)], 256),
    ],
)
def test_cc_converges_logarithmically(spark, caplog, name, edges, n):
    """Large-star/small-star must reach the fixpoint in O(log n) rounds on
    pathological graphs — guards the one-action-per-iteration optimization
    against a silent convergence slowdown (VERDICT r2 item 10)."""
    import logging
    import math

    edf = spark.createDataFrame(edges, "u long, v long")
    vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
    # small_graph_edges=0 forces the distributed star loop
    with caplog.at_level(logging.INFO, logger="quarrycore_spark.operators.cc"):
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(edf, vdf, small_graph_edges=0).collect()
        }
    [iterations] = [
        r.args[0] for r in caplog.records if "star iterations" in r.getMessage()
    ]
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(edges)
    expected = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for node in comp:
            expected[node] = root
    assert labels == expected
    bound = 2 * int(math.log2(n)) + 4
    assert 0 < iterations <= bound, (
        f"{name}: {iterations} iterations > O(log n) bound {bound}"
    )


def _arrow_frame(spark, **cols):
    return spark.createDataFrame(
        pa.table({k: pa.array(v, pa.int64()) for k, v in cols.items()})
    )


def test_cc_small_graph_jobs(spark, spark_jobs):
    """The union-find path runs the bounded edge collect and the label join,
    and nothing else: its roots frame is built in the JVM, not from a
    parallelized Python list, whose evaluation would add jobs."""
    n, edges = _random_graph(5, 60, 40)
    edf = _arrow_frame(spark, u=[u for u, _ in edges], v=[v for _, v in edges])
    vdf = spark.range(n)
    state = edf.select("u", "v").filter(F.col("u") != F.col("v")).distinct()
    collect_jobs = spark_jobs(lambda: state.limit(100_001).collect())
    roots = _arrow_frame(spark, u=list(range(n)), v=[0] * n)
    join_jobs = spark_jobs(lambda: _labels(roots, vdf).collect())
    jobs = spark_jobs(lambda: connected_components(edf, vdf).collect())
    assert jobs == collect_jobs + join_jobs
