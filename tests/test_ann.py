"""ANN operator scale-shape guards.

These tests pin the two executor-safety properties the round-2 review
flagged: (a) ivf_topk must stay correct AND bounded when the codebook is
pathologically skewed (every vector assigned to one hot centroid — exactly
what a near-dup-heavy corpus produces), and (b) the broadcast caps fail
loudly instead of melting the driver.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from quarrycore_spark.operators import ann
from quarrycore_spark.operators.ann import ann_topk, ivf_assignments, ivf_topk
from quarrycore_spark.plans import vectorops

DIM = 64


def _skewed_embeddings(spark, n: int = 400, seed: int = 7):
    """One hot centroid: vec 0 (a centroid: 0 % 31 == 0) is the base
    direction and every non-centroid vector sits in a tight cone around it,
    while the other centroid vectors (31, 62, …) point in random far
    directions. Every non-centroid vector therefore assigns to centroid 0 —
    one IVF list holds ~the whole table, the worst-case rerank skew. Rows
    are scaled to unit norm, which the integer scores assume."""
    rng = np.random.default_rng(seed)
    base = np.zeros(DIM)
    base[0] = 1.0
    rows = []
    for i in range(n):
        if i % 31 == 0 and i != 0:
            v = rng.standard_normal(DIM)  # far random centroid
        else:
            v = base + 0.01 * rng.standard_normal(DIM)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_topk_skewed_codebook_matches_exact(spark):
    """With every vector in the hot centroid's list, the probe-and-rerank
    candidate set for each query is the whole table, so ivf_topk must equal
    the brute-force ann_topk exactly — and complete without any task
    receiving an unbounded group (the partial-top-k kernel streams batches;
    a groupBy(query_id) shape would pull ~n rows into one task here)."""
    emb = _skewed_embeddings(spark)
    exact = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["score_q"])
        for r in ann_topk(emb).collect()
    }
    ivf = {
        (r["query_id"], r["rnk"]): (r["neighbor_id"], r["score_q"])
        for r in ivf_topk(emb).collect()
    }
    assert set(ivf) == set(exact)
    assert ivf == exact


def test_centroid_probes_distributed_tiebreak(spark):
    """The distributed centroid kernel at IVF_NPROBE reproduces the
    oracle's top-nprobe-by-(score desc, centroid id asc) rule."""
    emb = _skewed_embeddings(spark, n=200, seed=3)
    qv = ann.quantized_frame(emb).filter(F.col("na") > 0)
    (cent,) = ann._sampled(qv, "centroids")
    probes = ann._top_centroids(
        qv.filter(F.col("vec_id") % vectorops.QUERY_STRIDE == 0),
        spark.sparkContext.broadcast(cent),
        vectorops.IVF_NPROBE,
    )
    got = {}
    for r in probes.collect():
        got.setdefault(r["vec_id"], set()).add(r["centroid_id"])
    # reference computation in numpy over the same quantized integers
    rows = emb.collect()
    q = {
        r["vec_id"]: np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1000 + 0.5).astype(np.int64)
        for r in rows
    }
    cents = sorted(i for i in q if i % 31 == 0 and (q[i] ** 2).sum() > 0)
    queries = [i for i in q if i % 50 == 0 and (q[i] ** 2).sum() > 0]
    for qid in queries:
        scores = []
        for cid in cents:
            d = int(q[qid] @ q[cid])
            na, nb = int((q[qid] ** 2).sum()), int((q[cid] ** 2).sum())
            pos = (d * d * 100000) // (na * nb)
            scores.append((-(pos if d >= 0 else -pos), cid))
        want = {cid for _, cid in sorted(scores)[:4]}
        assert got[qid] == want, f"query {qid}: {got[qid]} != {want}"


def _correlated_embeddings(spark, n: int = 300, seed: int = 11, noise: float = 0.0):
    """Adversarial LSH input: every vector on (noise=0) or in a tight cone
    around (noise>0) ONE direction — each band collapses to one or two
    mega-buckets. Rows are scaled to unit norm: the integer scores assume
    it, and hyperplane band signs do not depend on scale."""
    rng = np.random.default_rng(seed)
    base = np.ones(DIM)
    rows = []
    for i in range(n):
        v = base + noise * rng.standard_normal(DIM)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_lsh_mega_buckets_dropped(spark, monkeypatch):
    """A dominant direction must never reach the in-bucket quadratic
    verify: buckets above the cap are dropped BEFORE applyInPandas, so the
    capped result is empty here (every band holds ONE bucket of all n
    vectors), while a raised cap proves the pairs exist and the drop was
    the guard's doing. This is the 10^12-row safety property: task cost is
    O(cap²) however correlated the corpus is."""
    from quarrycore_spark import config
    from quarrycore_spark.operators.ann import ann_lsh_pairs, lsh_band_rows
    from quarrycore_spark.plans.vectorops import LSH_BANDS

    emb = _correlated_embeddings(spark, n=300, noise=0.0)
    sizes = (
        lsh_band_rows(emb)
        .groupBy("band_idx", "band_sig")
        .count()
        .collect()
    )
    assert max(r["count"] for r in sizes) == 300
    assert len(sizes) == LSH_BANDS  # total collapse: one bucket per band
    capped = ann_lsh_pairs(emb).collect()
    assert capped == []  # all buckets over cap -> dropped deterministically
    monkeypatch.setattr(config, "LSH_BUCKET_CAP", 1000)
    uncapped = ann_lsh_pairs(emb).collect()
    assert len(uncapped) == 300 * 299 // 2  # the pairs exist; the cap dropped them


def test_ann_lsh_cone_mostly_dropped(spark, monkeypatch):
    """With small noise a near-balanced hyperplane may SPLIT the cone and
    leave a sub-cap splinter bucket — those legitimately survive; the cap
    must still have removed the mega-buckets (output far below the full
    clique)."""
    from quarrycore_spark import config
    from quarrycore_spark.operators.ann import ann_lsh_pairs

    emb = _correlated_embeddings(spark, n=300, noise=0.001)
    capped = ann_lsh_pairs(emb).collect()
    full = 300 * 299 // 2
    assert len(capped) < full // 10  # mega-buckets gone, splinters may stay
    monkeypatch.setattr(config, "LSH_BUCKET_CAP", 1000)
    assert len(ann_lsh_pairs(emb).collect()) == full


def test_ann_lsh_cap_keeps_small_buckets(spark):
    """The 2..cap filter drops ONLY mega-buckets: a mixed corpus (one
    correlated clique + isotropic noise) keeps its small-bucket pairs."""
    from quarrycore_spark.operators.ann import ann_lsh_pairs

    rng = np.random.default_rng(5)
    base = np.ones(DIM)

    def unit(v):  # the integer scores assume unit-norm embeddings
        return [float(x) for x in v / np.linalg.norm(v)]

    rows = [
        (i, unit(base + 0.001 * rng.standard_normal(DIM)))
        for i in range(3)  # small clique: bucket size 3, well under cap
    ] + [
        (100 + i, unit(rng.standard_normal(DIM)))
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["a_id"], r["b_id"]) for r in ann_lsh_pairs(emb).collect()}
    assert {(0, 1), (0, 2), (1, 2)} <= got


def test_ann_lsh_pairs_batch_boundaries(spark):
    """Bucket runs of 5 members straddle 3-row Arrow batches; the verify
    carries the trailing run over, so 3-row batches give the default-batch
    pairs."""
    from quarrycore_spark.operators.ann import ann_lsh_pairs

    rng = np.random.default_rng(13)

    def unit(v):  # the integer scores assume unit-norm embeddings
        return [float(x) for x in v / np.linalg.norm(v)]

    rows = []
    for c in range(8):  # 8 tight clusters of 5: one bucket of 5 per band
        centre = unit(rng.standard_normal(DIM))
        rows += [
            (10 * c + i, unit(centre + 0.001 * rng.standard_normal(DIM)))
            for i in range(5)
        ]
    rows += [(1000 + i, unit(rng.standard_normal(DIM))) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def pairs():
        return sorted(map(tuple, ann_lsh_pairs(emb).collect()))

    default = pairs()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        small = pairs()
    finally:
        spark.conf.set(key, old)
    clusters = {
        (10 * c + i, 10 * c + j) for c in range(8) for i in range(5) for j in range(i + 1, 5)
    }
    assert clusters <= {(r[0], r[1]) for r in default}
    assert small == default


@pytest.mark.parametrize("op", ["ann_lsh_pairs", "embedding_dup_pairs"])
def test_pair_operators_refuse_norms_that_wrap_int64(spark, op):
    """N(0, 1)^64 vectors have norm ~8, past the ~3.1 at which the integer
    cosine scores wrap int64: the operators raise, naming a vector and the
    bound, instead of returning wrapped scores."""
    rng = np.random.default_rng(17)
    rows = []
    for c in range(8):  # 8 tight clusters of 5, as in the batch test
        centre = rng.standard_normal(DIM)
        rows += [
            (10 * c + i, [float(x) for x in centre + 0.001 * rng.standard_normal(DIM)])
            for i in range(5)
        ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match=r"vec_id \d+: quantized norm² .* exceeds "
                       rf"MAX_QUANTIZED_NORM2 = {ann.MAX_QUANTIZED_NORM2}"):
        getattr(ann, op)(emb).collect()


def test_ann_topk_query_cap_raises(spark, monkeypatch):
    monkeypatch.setattr(vectorops, "QUERY_STRIDE", 1)
    monkeypatch.setattr(ann, "MAX_BROADCAST_QUERIES", 10)
    emb = _skewed_embeddings(spark, n=30)
    with pytest.raises(RuntimeError, match="query vectors"):
        ann_topk(emb).count()


@pytest.mark.parametrize(
    "op,strides,caps,queries,centroids",
    [
        (ivf_topk, (1, 31), (10, 200_000),
         "30 (cap 10, stride=1)", "1 (cap 200000, cent_stride=31)"),
        (ivf_topk, (50, 1), (200_000, 10),
         "1 (cap 200000, stride=50)", "30 (cap 10, cent_stride=1)"),
        # one class: the limit (cap + 1) stops the collect at 11 rows
        (ann_topk, (1, 31), (10, 200_000), "11 (cap 10, stride=1)", None),
        (ivf_assignments, (50, 1), (200_000, 10),
         None, "11 (cap 10, cent_stride=1)"),
    ],
    ids=["queries-over", "centroids-over", "ann_topk-queries-over",
         "ivf_assignments-centroids-over"],
)
def test_ivf_topk_cap_error_gives_both_classes(
    spark, monkeypatch, op, strides, caps, queries, centroids
):
    """Whichever class is over its cap, the error reports every collected
    class's count against its cap and stride, in one format for all three
    operators that broadcast sampled rows."""
    monkeypatch.setattr(vectorops, "QUERY_STRIDE", strides[0])
    monkeypatch.setattr(vectorops, "CENT_STRIDE", strides[1])
    monkeypatch.setattr(ann, "MAX_BROADCAST_QUERIES", caps[0])
    monkeypatch.setattr(ann, "MAX_BROADCAST_CENTROIDS", caps[1])
    emb = _skewed_embeddings(spark, n=30)
    with pytest.raises(RuntimeError) as err:
        op(emb)
    msg = str(err.value)
    for label, want in (("query vectors", queries), ("centroids", centroids)):
        if want is None:
            assert label not in msg
        else:
            assert f"{label}: {want}" in msg


def test_ann_topk_handles_batch_smaller_than_k(spark, monkeypatch):
    """Partial top-k per batch must cope with batches smaller than k and
    with the query row itself appearing in the batch."""
    monkeypatch.setattr(vectorops, "QUERY_STRIDE", 1)
    emb = _skewed_embeddings(spark, n=6).repartition(6)  # ~1 row per batch
    out = ann_topk(emb).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        ids = [r["neighbor_id"] for r in rows]
        assert qid not in ids  # self excluded
        assert len(ids) == 5  # n-1 neighbors, k larger than table
        assert [r["rnk"] for r in sorted(rows, key=lambda r: r["rnk"])] == list(
            range(1, 6)
        )
