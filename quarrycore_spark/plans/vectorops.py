"""Embedding similarity / ANN operators over the `embeddings` table.

The scale story for embedding-cosine near-dup detection and similarity
search (the semantic level the reference implements with FAISS,
semantic_dedup.py:211-396, re-expressed as joins):

* brute-force quantized-cosine pairs / top-k — the correctness baseline;
* random-hyperplane LSH bucketing — the 100TB path: candidates only from
  equal 16-plane (65,536-value) band signatures across 16 bands, buckets
  capped at 2..200 members (mega-buckets dropped deterministically, the
  same guard as the text LSH), then exact verify inside the bucket.

Determinism contract: embeddings are quantized to int (floor(x*1000+0.5))
and every similarity comparison is exact int64 arithmetic — cosine
thresholds become `dot>0 AND T²·dot² >= cos²·na·nb` integer predicates, and
top-k scores are scaled integer divisions computed on non-negative
numerators (so Spark `div` and DuckDB `//` agree).
"""

from __future__ import annotations

import numpy as np

from quarrycore_spark.config import LSH_BUCKET_CAP
from quarrycore_spark.functions.dialect import SPARK
from quarrycore_spark.plans.registry import Query, register

DIM = 64
QUANT = 1000
ANN_K = 10
QUERY_STRIDE = 50  # vec_id % 50 == 0 are the top-k query points
# The driver's synthetic embeddings are near-isotropic (max pairwise cosine
# ≈0.51), so thresholds are calibrated to produce non-vacuous result sets.
PAIR_COS_PCT = 30  # embedding near-dup threshold (cos >= 0.30)
# Banded hyperplane LSH: candidate iff any band's planes all agree in sign.
# 16 planes per band = 65,536 signatures per band, so bucket population at
# a given corpus size is ~n/65k per band BEFORE the 2..cap size filter —
# the cap (LSH_BUCKET_CAP, the text LSH's bucket guard) is what bounds
# the in-bucket O(size²) verify regardless of n. For corpora
# where n/65k outgrows the cap (≳10⁷ vectors of one dominant direction),
# raise LSH_PLANES_PER_BAND — each +1 plane halves expected bucket load.
# Measured on the driver's embeddings (near-isotropic): sf0.01 → 5 pairs,
# sf0.1 → 84 pairs, max bucket 3 — non-vacuous, no dropped buckets.
LSH_BANDS = 16
LSH_PLANES_PER_BAND = 16
LSH_COS_PCT = 30


def _qvec(dialect: str) -> str:
    """Quantized embedding CTE `_qv`: vec_id, q (array<bigint>), na (norm²)."""
    if dialect == SPARK:
        q = "transform(embedding, x -> cast(floor(cast(x as double) * 1000 + 0.5) as bigint))"
        na = "aggregate(transform(q, x -> x * x), 0L, (a, v) -> a + v)"
    else:
        q = "list_transform(embedding, x -> floor(x::DOUBLE * 1000 + 0.5)::BIGINT)"
        na = "list_sum(list_transform(q, x -> x * x))::BIGINT"
    return (
        f"_q0 AS (SELECT vec_id, {q} AS q FROM embeddings),\n"
        f"_qv AS (SELECT vec_id, q, {na} AS na FROM _q0)"
    )


def _dot(a: str, b: str, dialect: str) -> str:
    if dialect == SPARK:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    return f"list_sum(list_transform(range(0, {DIM}), i -> {a}[i + 1] * {b}[i + 1]))::BIGINT"


def _embedding_norms(dialect: str) -> str:
    """Quantized norm² per vector — the cheap sanity/monitoring projection."""
    return f"\nWITH {_qvec(dialect)}\nSELECT vec_id, na AS norm_sq FROM _qv\n"


register(
    Query(
        "embedding_norms",
        "quantized embedding norms (similarity-search base)",
        _embedding_norms,
        tables=("embeddings",),
    )
)


def _embedding_dup_pairs(dialect: str) -> str:
    """D14 analogue: all vector pairs with cosine >= 0.9, exact integer
    predicate 100·dot² >= 81·na·nb (dot>0). Brute-force all-pairs — the
    correctness baseline the LSH path is measured against."""
    dot = _dot("a.q", "b.q", dialect)
    return f"""
WITH {_qvec(dialect)},
_p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         {dot} AS dot, a.na AS na, b.na AS nb
  FROM _qv a JOIN _qv b ON a.vec_id < b.vec_id
  WHERE a.na > 0 AND b.na > 0
)
SELECT a_id, b_id, dot, na, nb FROM _p
WHERE dot > 0 AND 10000 * dot * dot >= {PAIR_COS_PCT * PAIR_COS_PCT} * na * nb
"""


def _spark_embedding_dup_pairs(spark, sf_dir):
    from quarrycore_spark.operators.ann import embedding_dup_pairs
    from quarrycore_spark.sources.tables import load

    return embedding_dup_pairs(load(spark, sf_dir, "embeddings")["embeddings"])


register(
    Query(
        "embedding_dup_pairs",
        "embedding-cosine near-dup pairs (brute force, integer-exact)",
        _embedding_dup_pairs,
        spark_fn=_spark_embedding_dup_pairs,
        tables=("embeddings",),
    )
)


def _ann_topk(dialect: str) -> str:
    """Brute-force cosine top-k: for every stride-sampled query vector, the
    10 nearest neighbors by quantized cosine. Score = sign(dot) ·
    (dot²·10⁵ intdiv na·nb), division always on non-negative ints."""
    dot = _dot("q1.q", "e.q", dialect)
    div = "div" if dialect == SPARK else "//"
    return f"""
WITH {_qvec(dialect)},
_s AS (
  SELECT q1.vec_id AS query_id, e.vec_id AS neighbor_id,
         {dot} AS dot, q1.na AS na, e.na AS nb
  FROM _qv q1 JOIN _qv e
    ON e.vec_id != q1.vec_id
  WHERE q1.vec_id % {QUERY_STRIDE} = 0 AND q1.na > 0 AND e.na > 0
),
_sc AS (
  SELECT query_id, neighbor_id,
         CASE WHEN dot < 0 THEN -(((dot * dot) * 100000) {div} (na * nb))
              ELSE ((dot * dot) * 100000) {div} (na * nb) END AS score_q
  FROM _s
),
_r AS (
  SELECT query_id, neighbor_id, score_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, neighbor_id) AS rnk
  FROM _sc
)
SELECT query_id, neighbor_id, score_q, rnk FROM _r WHERE rnk <= {ANN_K}
"""


def _spark_ann_topk(spark, sf_dir):
    from quarrycore_spark.operators.ann import ann_topk
    from quarrycore_spark.sources.tables import load

    return ann_topk(load(spark, sf_dir, "embeddings")["embeddings"])


register(
    Query(
        "ann_topk",
        "brute-force cosine top-10 per sampled query vector",
        _ann_topk,
        spark_fn=_spark_ann_topk,
        tables=("embeddings",),
    )
)


CENT_STRIDE = 31  # vec_id % 31 == 0 are IVF coarse centroids
IVF_NPROBE = 4


def _centroid_cte(dialect: str) -> str:
    """CTE `_cent`: the deterministic coarse codebook — every CENT_STRIDE-th
    vector (codebook size grows with the corpus, like an IVF nlist)."""
    return (
        f"_cent AS (SELECT vec_id AS cid, q AS cq, na AS nc FROM _qv "
        f"WHERE vec_id % {CENT_STRIDE} = 0 AND na > 0)"
    )


def _score(dot: str, na: str, nb: str, dialect: str) -> str:
    """sign(dot) · (dot²·10⁵ intdiv na·nb) — the shared integer cosine score."""
    div = "div" if dialect == SPARK else "//"
    return (
        f"CASE WHEN {dot} < 0 THEN -((({dot} * {dot}) * 100000) {div} ({na} * {nb})) "
        f"ELSE (({dot} * {dot}) * 100000) {div} ({na} * {nb}) END"
    )


def _ivf_assign(dialect: str) -> str:
    """IVF coarse assignment: every vector → its best centroid by quantized
    cosine (ties → lowest centroid id). The FAISS-IVF coarse-quantizer step
    (semantic_dedup.py:211-254) as a join + window — at 10^12 rows this is
    a broadcast of the (small) codebook against a partition-parallel scan."""
    dot = _dot("v.q", "c.cq", dialect)
    return f"""
WITH {_qvec(dialect)},
{_centroid_cte(dialect)},
_s AS (
  SELECT v.vec_id, c.cid, {dot} AS dot, v.na, c.nc
  FROM _qv v JOIN _cent c ON v.na > 0
),
_sc AS (
  SELECT vec_id, cid, {_score('dot', 'na', 'nc', dialect)} AS score_q
  FROM _s
),
_r AS (
  SELECT vec_id, cid, score_q,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY score_q DESC, cid) AS rn
  FROM _sc
)
SELECT vec_id, cid AS centroid_id, score_q AS centroid_score_q
FROM _r WHERE rn = 1
"""


def _spark_ivf_assign(spark, sf_dir):
    from quarrycore_spark.operators.ann import ivf_assignments
    from quarrycore_spark.sources.tables import load

    return ivf_assignments(load(spark, sf_dir, "embeddings")["embeddings"])


register(
    Query(
        "ivf_assignments",
        "IVF coarse assignment: vector -> nearest deterministic centroid",
        _ivf_assign,
        spark_fn=_spark_ivf_assign,
        tables=("embeddings",),
    )
)


def _ivf_topk(dialect: str) -> str:
    """IVF probe-and-rerank top-k: each stride-sampled query probes its
    IVF_NPROBE best centroids and exact-reranks only the vectors assigned
    to those lists — the sub-linear search path (vs ann_topk's brute
    force). Candidate lists shrink ~nlist/nprobe-fold; recall is the
    standard IVF trade-off, and the oracle computes the identical result."""
    dot_vc = _dot("v.q", "c.cq", dialect)
    dot_qn = _dot("q1.q", "n.q", dialect)
    return f"""
WITH {_qvec(dialect)},
{_centroid_cte(dialect)},
_vs AS (
  SELECT v.vec_id, v.q, v.na, c.cid,
         {_score(dot_vc, 'v.na', 'c.nc', dialect)} AS cscore
  FROM _qv v JOIN _cent c ON v.na > 0
),
_asg AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid) AS rn
    FROM _vs
  ) WHERE rn = 1
),
_probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cid) AS rn
    FROM _vs WHERE vec_id % {QUERY_STRIDE} = 0
  ) WHERE rn <= {IVF_NPROBE}
),
_cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM _probe p JOIN _asg a ON a.cid = p.cid AND a.vec_id != p.query_id
),
_rr AS (
  SELECT c.query_id, c.neighbor_id,
         {_score(dot_qn, 'q1.na', 'n.na', dialect)} AS score_q
  FROM _cand c
  JOIN _qv q1 ON q1.vec_id = c.query_id
  JOIN _qv n ON n.vec_id = c.neighbor_id
),
_rk AS (
  SELECT query_id, neighbor_id, score_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, neighbor_id) AS rnk
  FROM _rr
)
SELECT query_id, neighbor_id, score_q, rnk FROM _rk WHERE rnk <= {ANN_K}
"""


def _spark_ivf_topk(spark, sf_dir):
    from quarrycore_spark.operators.ann import ivf_topk
    from quarrycore_spark.sources.tables import load

    return ivf_topk(load(spark, sf_dir, "embeddings")["embeddings"])


register(
    Query(
        "ivf_topk",
        "IVF probe-and-rerank cosine top-10 (sub-linear search path)",
        _ivf_topk,
        spark_fn=_spark_ivf_topk,
        tables=("embeddings",),
    )
)


def _planes() -> np.ndarray:
    rng = np.random.RandomState(7)
    n = LSH_BANDS * LSH_PLANES_PER_BAND
    return rng.randint(-500, 501, size=(n, DIM)).astype(np.int64)


def _ann_lsh_pairs(dialect: str) -> str:
    """Banded random-hyperplane LSH near-dup pairs — the scale path:
    candidates come only from (band_idx, band_sig) bucket collisions
    (any of 16 bands of 16 sign bits matching), restricted to buckets with
    2..LSH_BUCKET_CAP members (singletons pair with nothing;
    mega-buckets are a dominant direction — dropped deterministically,
    same rule as the Spark operator and the text LSH), then exact
    quantized-cosine verification. At 10^12 rows this is an explode +
    capped groupBy/equi-join on the band signature — never an all-pairs
    product, and never an uncapped in-bucket quadratic."""
    planes = _planes()
    band_exprs = []
    for band in range(LSH_BANDS):
        terms = []
        for j in range(LSH_PLANES_PER_BAND):
            coeffs = planes[band * LSH_PLANES_PER_BAND + j]
            # flat multiply-add chain, NOT a list_transform over a literal
            # list: engines re-build the 64-element literal per lambda call,
            # turning each plane dot into O(DIM²) list constructions
            if dialect == SPARK:
                pdot = " + ".join(
                    f"({int(c)}L * q[{i}])" for i, c in enumerate(coeffs)
                )
            else:
                pdot = " + ".join(
                    f"({int(c)} * q[{i + 1}])" for i, c in enumerate(coeffs)
                )
            terms.append(f"case when ({pdot}) > 0 then {1 << j} else 0 end")
        band_exprs.append("(" + " + ".join(terms) + ")")
    bands_arr = (
        f"array({', '.join(band_exprs)})"
        if dialect == SPARK
        else f"[{', '.join(band_exprs)}]"
    )
    from quarrycore_spark.functions import dialect as D

    dot = _dot("a.q", "b.q", dialect)
    # DuckDB inlines CTEs: without MATERIALIZED the 256-hyperplane _sig
    # expression would be re-evaluated once per reference (the self-join
    # alone reads it twice) — minutes instead of seconds at 16×16 planes.
    mat = "" if dialect == SPARK else " MATERIALIZED"
    return f"""
WITH {_qvec(dialect)},
_sig AS{mat} (SELECT vec_id, q, na,
         {D.posexplode(bands_arr, 'band_idx', 'band_sig', dialect)}
         FROM _qv WHERE na > 0),
_ok AS (
  SELECT band_idx, band_sig FROM _sig
  GROUP BY band_idx, band_sig
  HAVING count(*) >= 2 AND count(*) <= {LSH_BUCKET_CAP}
),
_sigf AS (
  SELECT s.vec_id, s.band_idx, s.band_sig
  FROM _sig s JOIN _ok o
    ON s.band_idx = o.band_idx AND s.band_sig = o.band_sig
),
_cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM _sigf a JOIN _sigf b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
   AND a.vec_id < b.vec_id
),
_qq AS (SELECT vec_id, q, na FROM _qv),
_p AS (
  SELECT c.a_id, c.b_id, {dot} AS dot, a.na AS na, b.na AS nb
  FROM _cand c JOIN _qq a ON a.vec_id = c.a_id JOIN _qq b ON b.vec_id = c.b_id
)
SELECT a_id, b_id, dot, na, nb FROM _p
WHERE dot > 0 AND 10000 * dot * dot >= {LSH_COS_PCT * LSH_COS_PCT} * na * nb
"""


def _spark_ann_lsh_pairs(spark, sf_dir):
    # Scale path: slim band rows are capped before any vector moves.
    from quarrycore_spark.operators.ann import ann_lsh_pairs
    from quarrycore_spark.sources.tables import load

    return ann_lsh_pairs(load(spark, sf_dir, "embeddings")["embeddings"])


register(
    Query(
        "ann_lsh_pairs",
        "hyperplane-LSH bucketed cosine pairs (scale path)",
        _ann_lsh_pairs,
        spark_fn=_spark_ann_lsh_pairs,
        tables=("embeddings",),
    )
)
