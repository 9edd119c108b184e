"""Embedding similarity operators — vectorized Spark implementations.

The SQL-dialect versions in plans/vectorops.py define the semantics (and
serve as the DuckDB oracle); these numpy implementations compute the exact
same quantized-integer results ~100× faster by replacing interpreted
per-element SQL lambdas with Arrow-batched matrix ops.

Scale shapes (nothing here collects a full table to the driver):

* ``embedding_dup_pairs`` — exact all-pairs threshold join as a *block-pair
  self-join*: vectors are hashed into B blocks, every row is replicated to
  the B (block_i, block_j) groups it participates in, and each group runs an
  in-memory numpy block product. Work is the inherent O(n²/B²)·B² of an
  exact all-pairs scan, but memory per task is O(n/B) and the driver never
  sees a vector. B derives from the table size (see the function docstring
  for the byte bound). The sub-quadratic path at 10^12 rows is
  ``ann_lsh_pairs``.
* ``ann_topk`` — only the stride-sampled *query* vectors are collected
  (row-capped, loud failure beyond the cap) and broadcast; the full table
  streams through mapInPandas emitting per-batch top-k, merged by a final
  window over ≤ k·batches rows per query.
* ``ann_lsh_pairs`` — banded hyperplane LSH: shuffle once into
  (band, signature) buckets, verify inside the bucket, only ids leave.

Integer contract: q = floor(x_float64 * 1000 + 0.5) as int64 — identical
IEEE arithmetic to the SQL expression, so results hash-match the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quarrycore_spark import config
from quarrycore_spark.operators.lsh import capped
from quarrycore_spark.plans.vectorops import (
    ANN_K,
    CENT_STRIDE,
    IVF_NPROBE,
    LSH_BANDS,
    LSH_COS_PCT,
    LSH_PLANES_PER_BAND,
    PAIR_COS_PCT,
    QUERY_STRIDE,
    _planes,
)

# Hard cap on how many stride-sampled query vectors ann_topk may broadcast.
# Exceeding it raises instead of silently melting the driver. Byte cost at
# the cap: 200k vectors × DIM(64) × 8 B ≈ 102 MB of int64 payload (plus ids
# and norms, ~3 MB) — a deliberate ceiling for a driver with tens of GB.
MAX_BROADCAST_QUERIES = 200_000

# Kernel working-set bound: every (rows × columns) score matrix a kernel
# materializes is chunked to at most this many int64 cells (16 MB). Keeps
# executor allocations small regardless of how the row caps combine
# (200k queries × 200k centroids would otherwise be a 320 GB matrix).
_CHUNK_CELLS = 2_000_000

_QV_SCHEMA = "vec_id bigint, q array<bigint>, na bigint"


def _int_matmul(A: np.ndarray, Bt: np.ndarray) -> np.ndarray:
    """Exact int64 A @ Bt via float64 BLAS when the values allow it.

    numpy has no BLAS path for integer matmul (generic loop, measured 6x
    slower than dgemm on the kernels' (n, 64) blocks). float64 products
    and partial sums are EXACT while every |a·b| and every running sum
    stays under 2^53; with d = A.shape[1] terms per cell that holds
    whenever max|A|·max|B|·d < 2^53. Quantized embeddings are |q| <= ~10^3
    (floor(x·1000+0.5) on unit-normalized vectors) and hyperplanes are
    |p| <= 500, so the fast path always applies in practice; the guard
    falls back to the integer loop rather than assume it."""
    if A.size == 0 or Bt.size == 0:
        return A @ Bt
    ma = int(np.abs(A).max())
    mb = int(np.abs(Bt).max())
    if ma and mb and ma * mb * A.shape[1] < (1 << 53):
        return (A.astype(np.float64) @ Bt.astype(np.float64)).astype(np.int64)
    return A @ Bt


def quantize(v: np.ndarray) -> np.ndarray:
    return np.floor(v.astype(np.float64) * 1000 + 0.5).astype(np.int64)


def quantized_frame(emb: DataFrame, spread: bool = True) -> DataFrame:
    """(vec_id, q array<bigint>, na norm²) — Arrow-batched quantization.

    spread=False for consumers whose downstream shuffle re-partitions the
    vectors anyway (embedding_dup_pairs' block explode, ivf_topk's
    candidate join): there the extra exchange of fat q-arrays costs more
    than the scan parallelism buys (measured 3.0 vs 9.2 s at sf1.0 for
    embedding_dup_pairs)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            Q = quantize(np.stack(pdf["embedding"].to_numpy()))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "q": list(Q),
                    "na": (Q * Q).sum(axis=1),
                }
            )

    # spread(): the driver's embeddings table is ONE parquet file with ONE
    # row group, so the scan cannot split and every downstream kernel pass
    # (quantize, scoring matmuls) runs on <= 2 cores (guide §2.5 — an
    # unsplittable input is repartitioned right after the read; no-op once
    # the scan has >= defaultParallelism splits, i.e. at any real scale).
    # This amends an r6 measurement made before the row-group bound was
    # understood: re-measured at sf1.0, ivf_assignments 4.9 -> 2.2 s.
    from quarrycore_spark.operators._partitioning import spread as _spread

    sel = emb.select("vec_id", "embedding")
    if spread:
        sel = _spread(sel)
    return sel.mapInPandas(compute, schema=_QV_SCHEMA)


# Block sizing target for embedding_dup_pairs: each block-pair task holds
# two blocks of ~n/B rows. B = max(8, ceil(sqrt(n / TARGET))) balances the
# replication cost (n·B rows shuffled) against per-task block size (n/B):
# per-task bytes ≈ 2·(n/B)·(DIM·8 + 24) for the id/q/na arrays, plus a
# score-matrix chunk capped at _CHUNK_CELLS·8 = 16 MB by the chunked
# matmul. At n = 10⁹, B = 100 → 10⁷ rows/block ≈ 5.4 GB/task — the
# documented operating ceiling of the EXACT path (inherent O(n²) work);
# beyond it, ann_lsh_pairs is the scale path.
TARGET_ROWS_PER_TASK = 100_000


def embedding_dup_pairs(
    emb: DataFrame, cos_pct: int = PAIR_COS_PCT, n_blocks: int | None = None
) -> DataFrame:
    """All pairs with quantized cosine >= cos_pct/100 (dot>0), exact ints.

    Block-pair self-join: row with block i is replicated to every group
    (min(i,j), max(i,j)); group (i,j) block-multiplies block i against
    block j (triangular within a diagonal group). Each unordered pair is
    produced in exactly one group, so no dedup pass is needed. Output is
    identical to the SQL all-pairs join (plans/vectorops.py oracle) for
    ANY n_blocks — the block count only changes the physical plan. When
    n_blocks is None it derives from the table size (TARGET_ROWS_PER_TASK
    above); bench-scale tables (< 6.4 M rows) resolve to the floor of 8.
    """
    thr = cos_pct * cos_pct
    if n_blocks is None:
        import math

        n_rows = emb.count()
        n_blocks = max(8, math.ceil(math.sqrt(max(n_rows, 1) / TARGET_ROWS_PER_TASK)))
    qv = quantized_frame(emb, spread=False).filter(F.col("na") > 0)
    j = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("j")
    blocked = (
        qv.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)))
        .select("vec_id", "q", "na", "blk", j)
        .withColumn("bi", F.least("blk", "j"))
        .withColumn("bj", F.greatest("blk", "j"))
        .drop("j")
    )

    def verify_block_pair(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # The score matmul is chunked over left-side rows so the (chunk ×
        # block) int64 matrix never exceeds _CHUNK_CELLS cells (16 MB) —
        # block size bounds the Q arrays, the chunking bounds the matrix.
        bi, bj = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy(np.int64)
        Q = np.stack(pdf["q"].to_numpy())
        na = pdf["na"].to_numpy(np.int64)
        empty = pd.DataFrame(
            {c: pd.Series(dtype="int64") for c in ("a_id", "b_id", "dot", "na", "nb")}
        )

        def emit(a_id, b_id, d, n_a, n_b):
            # canonical (a_id < b_id) ordering
            swap = a_id > b_id
            a_id, b_id = np.where(swap, b_id, a_id), np.where(swap, a_id, b_id)
            n_a, n_b = np.where(swap, n_b, n_a), np.where(swap, n_a, n_b)
            keep = (d > 0) & (10000 * d * d >= thr * n_a * n_b)
            return pd.DataFrame(
                {
                    "a_id": a_id[keep],
                    "b_id": b_id[keep],
                    "dot": d[keep],
                    "na": n_a[keep],
                    "nb": n_b[keep],
                }
            )

        out = []
        if bi == bj:
            n = len(ids)
            if n < 2:
                return empty
            col = np.arange(n)
            chunk = max(1, _CHUNK_CELLS // n)
            for s in range(0, n, chunk):
                e = min(s + chunk, n)
                dots = _int_matmul(Q[s:e], Q.T)  # (e-s, n)
                mask = col[None, :] > np.arange(s, e)[:, None]  # strict upper
                li, ri = np.nonzero(mask)
                out.append(
                    emit(ids[li + s], ids[ri], dots[mask], na[li + s], na[ri])
                )
        else:
            left = pdf["blk"].to_numpy(np.int64) == bi
            right = ~left
            nl, nr = int(left.sum()), int(right.sum())
            if nl == 0 or nr == 0:
                return empty
            Ql, Qr = Q[left], Q[right]
            idl, idr = ids[left], ids[right]
            nal, nar = na[left], na[right]
            chunk = max(1, _CHUNK_CELLS // nr)
            for s in range(0, nl, chunk):
                e = min(s + chunk, nl)
                dots = _int_matmul(Ql[s:e], Qr.T)  # (e-s, nr)
                li = np.repeat(np.arange(s, e), nr)
                ri = np.tile(np.arange(nr), e - s)
                out.append(emit(idl[li], idr[ri], dots.ravel(), nal[li], nar[ri]))
        return pd.concat(out, ignore_index=True) if out else empty

    return blocked.groupBy("bi", "bj").applyInPandas(
        verify_block_pair,
        schema="a_id bigint, b_id bigint, dot bigint, na bigint, nb bigint",
    )


def ann_topk(
    emb: DataFrame,
    k: int = ANN_K,
    stride: int = QUERY_STRIDE,
    max_queries: int = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """Brute-force top-k for stride-sampled queries; same integer score as
    the SQL version (non-negative division then sign).

    Only the query vectors (1/stride of the table, hard-capped at
    ``max_queries`` — loud RuntimeError beyond it) are collected and
    broadcast; the full table streams through executors, each Arrow batch
    emitting its local top-k per query, merged by one window over
    ≤ k·batches rows per query. Exact integer scores make the merge exact.
    """
    spark = emb.sparkSession
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    qrows = (
        qv.filter(F.col("vec_id") % stride == 0).limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise RuntimeError(
            f"ann_topk: >{max_queries} query vectors at stride={stride}; "
            "raise the stride or use the LSH path (ann_lsh_pairs) — "
            "refusing to broadcast an unbounded query set"
        )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_Q = (
        np.stack([np.asarray(r["q"], dtype=np.int64) for r in qrows])
        if qrows
        else np.zeros((0, 1), dtype=np.int64)
    )
    q_na = np.array([r["na"] for r in qrows], dtype=np.int64)
    b = spark.sparkContext.broadcast((q_ids, q_Q, q_na))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Queries are processed in chunks sized so the (chunk × batch) score
        # matrix stays <= _CHUNK_CELLS int64 cells, and the per-query top-k
        # is a vectorized composite-key argsort — no per-query Python loop,
        # no (n_queries × batch) allocation at the 200k cap.
        qids, qQ, qna = b.value
        nq = len(qids)
        if nq == 0:
            return
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            # batch sorted by vec_id: within-row column order == id order,
            # so the composite key encodes the (score desc, id asc) tie-break
            bo = np.argsort(ids)
            ids_s = ids[bo]
            Q_s = np.stack(pdf["q"].to_numpy())[bo]
            na_s = pdf["na"].to_numpy(np.int64)[bo]
            bl = len(ids_s)
            ncols = min(k + 1, bl)  # +1 slot in case the self column is picked
            chunk = max(1, _CHUNK_CELLS // bl)
            out = []
            col = np.arange(bl, dtype=np.int64)[None, :]
            for s in range(0, nq, chunk):
                e = min(s + chunk, nq)
                dots = _int_matmul(qQ[s:e], Q_s.T)  # (chunk, batch)
                # all products stay inside int64: dot²·1e5 <= 3.3e18 < 2^63
                pos = (dots * dots * 100000) // (qna[s:e, None] * na_s[None, :])
                score = np.where(dots < 0, -pos, pos)
                # injective composite: score in [-1e5, 1e5], col < bl
                comp = (np.int64(100001) - score) * bl + col
                comp[ids_s[None, :] == qids[s:e, None]] = np.iinfo(np.int64).max
                sel = np.argsort(comp, axis=1)[:, :ncols]  # (chunk, ncols)
                rows = np.repeat(np.arange(e - s), ncols)
                nid = ids_s[sel.ravel()]
                qcol = qids[s:e][rows]
                valid = nid != qcol
                rank = (valid.reshape(e - s, ncols).cumsum(axis=1) - 1).ravel()
                keep = valid & (rank < k)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qcol[keep],
                            "neighbor_id": nid[keep],
                            "score_q": score[rows, sel.ravel()][keep],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = qv.mapInPandas(
        partial_topk, schema="query_id bigint, neighbor_id bigint, score_q bigint"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("neighbor_id")
    )
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score_q", "rnk")
    )


MAX_BROADCAST_CENTROIDS = 200_000


def _int_scores(dots: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """sign(dot)·(dot²·10⁵ intdiv na·nb), elementwise; na broadcast over rows,
    nb over columns. All products stay inside int64 (dot²·1e5 <= 3.3e18)."""
    pos = (dots * dots * 100000) // (na[:, None] * nb[None, :])
    return np.where(dots < 0, -pos, pos).astype(np.int64)


def _collect_centroids(
    qv: DataFrame, stride: int = CENT_STRIDE, cap: int = MAX_BROADCAST_CENTROIDS
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The deterministic coarse codebook: every stride-th vector. A real
    100 TB deployment trains a fixed-size codebook (nlist ≈ √n); the stride
    rule is the deterministic stand-in, hard-capped with a loud failure."""
    rows = qv.filter(F.col("vec_id") % stride == 0).limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"ivf: >{cap} centroids at stride={stride}; raise the stride — "
            "refusing to broadcast an unbounded codebook"
        )
    rows.sort(key=lambda r: r["vec_id"])  # ascending cid = tie-break order
    cids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    CQ = (
        np.stack([np.asarray(r["q"], dtype=np.int64) for r in rows])
        if rows
        else np.zeros((0, 1), dtype=np.int64)
    )
    cna = np.array([r["na"] for r in rows], dtype=np.int64)
    return cids, CQ, cna


def ivf_assignments(
    emb: DataFrame,
    stride: int = CENT_STRIDE,
    _cent: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """IVF coarse assignment: each vector → best centroid by quantized
    cosine (ties → lowest centroid id). Broadcast codebook × partition scan;
    identical integers to the SQL oracle (plans/vectorops._ivf_assign).
    `_cent` lets a composed caller (ivf_topk) supply an
    already-collected codebook so the table is not re-scanned for it."""
    spark = emb.sparkSession
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    b = spark.sparkContext.broadcast(
        _collect_centroids(qv, stride) if _cent is None else _cent
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids, CQ, cna = b.value
        ncent = len(cids)
        if ncent == 0:
            return
        # rows chunked so the (chunk × ncent) score matrix stays bounded
        chunk = max(1, _CHUNK_CELLS // ncent)
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            Q = np.stack(pdf["q"].to_numpy())
            na = pdf["na"].to_numpy(np.int64)
            for s in range(0, len(ids), chunk):
                e = min(s + chunk, len(ids))
                scores = _int_scores(_int_matmul(Q[s:e], CQ.T), na[s:e], cna)
                # argmax returns the FIRST max → lowest cid (cids ascending)
                best = scores.argmax(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": ids[s:e],
                        "centroid_id": cids[best],
                        "centroid_score_q": scores[np.arange(e - s), best],
                    }
                )

    return qv.mapInPandas(
        assign, schema="vec_id bigint, centroid_id bigint, centroid_score_q bigint"
    )


def ivf_probes(
    emb: DataFrame,
    stride: int = QUERY_STRIDE,
    cent_stride: int = CENT_STRIDE,
    nprobe: int = IVF_NPROBE,
    _cent: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None,
    _queries: DataFrame | None = None,
) -> DataFrame:
    """(query_id, centroid_id) probe sets, computed DISTRIBUTIVELY: the
    broadcast codebook scores each stride-sampled query inside mapInPandas
    (chunked to _CHUNK_CELLS like ivf_assignments), so no
    O(queries × centroids) matrix ever exists on the driver. Top-nprobe
    per query with the oracle's tie-break (score desc, centroid id asc).
    `_cent` / `_queries` let a composed caller (ivf_topk) supply the
    already-collected codebook and an already-materialized query frame so
    the full table is not re-scanned for either."""
    spark = emb.sparkSession
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    b = spark.sparkContext.broadcast(
        _collect_centroids(qv, cent_stride) if _cent is None else _cent
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids, CQ, cna = b.value
        ncent = len(cids)
        if ncent == 0:
            return
        npb = min(nprobe, ncent)
        chunk = max(1, _CHUNK_CELLS // ncent)
        col = np.arange(ncent, dtype=np.int64)[None, :]
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            Q = np.stack(pdf["q"].to_numpy())
            na = pdf["na"].to_numpy(np.int64)
            for s in range(0, len(ids), chunk):
                e = min(s + chunk, len(ids))
                scores = _int_scores(_int_matmul(Q[s:e], CQ.T), na[s:e], cna)
                # injective composite: score in [-1e5, 1e5]; cids are sorted
                # ascending so column index order == centroid-id order
                comp = (np.int64(100001) - scores) * ncent + col
                sel = np.argsort(comp, axis=1)[:, :npb]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(ids[s:e], npb),
                        "centroid_id": cids[sel.ravel()],
                    }
                )

    src = _queries if _queries is not None else qv.filter(
        F.col("vec_id") % stride == 0
    )
    return src.mapInPandas(probe, schema="query_id bigint, centroid_id bigint")


def ivf_topk(
    emb: DataFrame,
    k: int = ANN_K,
    stride: int = QUERY_STRIDE,
    cent_stride: int = CENT_STRIDE,
    nprobe: int = IVF_NPROBE,
    max_queries: int = MAX_BROADCAST_QUERIES,
) -> DataFrame:
    """IVF probe-and-rerank top-k — the sub-linear search path: queries
    probe their nprobe best centroids (ivf_probes, distributed); only
    vectors ASSIGNED to those lists are exact-reranked (a broadcast-join
    candidate cut of ~nlist/nprobe). The rerank is a per-batch partial
    top-k merged by one window — the same skew-proof shape as ann_topk, so
    one hot centroid list can never create an unbounded task (the old
    groupBy(query_id).applyInPandas pulled every candidate of a query into
    one task). Same integer scores and tie-breaks as the SQL oracle.

    Broadcast byte cost at the caps: queries ≤ 200k × 64 dims × 8 B
    ≈ 102 MB; probe pairs ≤ 200k × nprobe(4) × 16 B ≈ 13 MB.

    ONE bounded collect serves both sampled sets (queries at `stride`,
    centroids at `cent_stride`): standalone, ivf_probes and
    ivf_assignments each re-scan the table through the quantize kernel
    just to collect the codebook, so the composed query paid five
    full-table scans; this shape pays three (assignments scan, the
    candidate join's vector re-attach, and the one collect). The probe
    kernel runs over an Arrow-built frame of the already-collected query
    rows (no Python tasks to read it back) instead of a fourth scan — at
    the caps those rows are already driver-resident for the broadcast, so
    no new driver-memory class is introduced. The caps
    stay loud: the combined limit (max_queries + centroid cap + 2)
    guarantees that whenever either class exceeds its cap, more than cap
    rows of SOME over-cap class are collected (pigeonhole), so a
    RuntimeError fires before any oversized broadcast. The limit decides
    which rows arrive, so the collected counts are lower bounds and need
    not show every class that is over; the error gives both counts against
    both caps and strides instead of naming one class."""
    spark = emb.sparkSession
    qv = quantized_frame(emb, spread=False).filter(F.col("na") > 0)
    cent_cap = MAX_BROADCAST_CENTROIDS
    limit = max_queries + cent_cap + 2
    both = qv.filter(
        (F.col("vec_id") % stride == 0) | (F.col("vec_id") % cent_stride == 0)
    ).limit(limit).collect()
    qrows = [r for r in both if r["vec_id"] % stride == 0]
    crows = [r for r in both if r["vec_id"] % cent_stride == 0]
    if len(qrows) > max_queries or len(crows) > cent_cap:
        raise RuntimeError(
            f"ivf_topk: refusing to broadcast; {len(both)} rows collected "
            f"(limit {limit}) hold query vectors: {len(qrows)} "
            f"(cap {max_queries}, stride={stride}); centroids: {len(crows)} "
            f"(cap {cent_cap}, cent_stride={cent_stride}). Raise the "
            "stride of each class over its cap"
        )

    def _arrays(rows):
        rows = sorted(rows, key=lambda r: r["vec_id"])  # ascending id order
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        Q = (
            np.stack([np.asarray(r["q"], dtype=np.int64) for r in rows])
            if rows
            else np.zeros((0, 1), dtype=np.int64)
        )
        na = np.array([r["na"] for r in rows], dtype=np.int64)
        return ids, Q, na

    q_ids, q_Q, q_na = _arrays(qrows)
    cent = _arrays(crows)
    bq = spark.sparkContext.broadcast((q_ids, q_Q, q_na))
    queries_df = spark.createDataFrame(pa.table({
        "vec_id": pa.array(q_ids, pa.int64()),
        "q": pa.array(list(q_Q), pa.list_(pa.int64())),
        "na": pa.array(q_na, pa.int64()),
    }))

    probe_df = ivf_probes(emb, stride, cent_stride, nprobe,
                          _cent=cent, _queries=queries_df)
    asg = ivf_assignments(emb, cent_stride, _cent=cent).select(
        "vec_id", "centroid_id"
    )
    cand = (
        asg.join(F.broadcast(probe_df), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .join(qv, "vec_id")
    )

    def partial_rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qQ, qna = bq.value
        if len(qids) == 0:
            return
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qid_col = pdf["query_id"].to_numpy(np.int64)
            nid = pdf["vec_id"].to_numpy(np.int64)
            Q = np.stack(pdf["q"].to_numpy())
            nb = pdf["na"].to_numpy(np.int64)
            qi = np.searchsorted(qids, qid_col)
            d = np.einsum("ij,ij->i", Q, qQ[qi])
            pos = (d * d * 100000) // (qna[qi] * nb)
            score = np.where(d < 0, -pos, pos).astype(np.int64)
            # batch-local top-k per query present in the batch
            order = np.lexsort((nid, -score, qid_col))
            qs = qid_col[order]
            starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
            sizes = np.diff(np.append(starts, len(qs)))
            rank = np.arange(len(qs)) - np.repeat(starts, sizes)
            keep = order[rank < k]
            yield pd.DataFrame(
                {
                    "query_id": qid_col[keep],
                    "neighbor_id": nid[keep],
                    "score_q": score[keep],
                }
            )

    partial = cand.mapInPandas(
        partial_rerank, schema="query_id bigint, neighbor_id bigint, score_q bigint"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score_q", "rnk")
    )


def lsh_band_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_sig) — SLIM hyperplane sign signatures,
    identical banding to the SQL oracle. Deliberately carries no vector
    payload: the bucket-size cap filter runs on these 24-byte rows, and
    quantized vectors join back only for the rows that survive — at scale
    this is the difference between shuffling |q|·LSH_BANDS bytes per
    vector and shuffling |q| once for the (sparse) bucket members."""
    planes = _planes()  # (bands*planes_per_band, DIM)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            Q = quantize(np.stack(pdf["embedding"].to_numpy()))
            na = (Q * Q).sum(axis=1)
            keep = na > 0
            ids, Q = ids[keep], Q[keep]
            if len(ids) == 0:
                continue
            bits = (_int_matmul(Q, planes.T) > 0).astype(np.int64)
            out = []
            for band in range(LSH_BANDS):
                sl = bits[:, band * LSH_PLANES_PER_BAND : (band + 1) * LSH_PLANES_PER_BAND]
                sig = (sl << np.arange(LSH_PLANES_PER_BAND)).sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "band_idx": np.full(len(ids), band, dtype=np.int64),
                            "band_sig": sig,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    from quarrycore_spark.operators._partitioning import spread

    return spread(emb.select("vec_id", "embedding")).mapInPandas(
        compute, schema="vec_id bigint, band_idx bigint, band_sig bigint"
    )


def lsh_band_signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_sig, q, na) — band rows with the vector
    payload attached. DIAGNOSTICS ONLY (bucket-size inspection, tests):
    this re-attaches the quantized vector to every exploded band row —
    the exact shape the production path removed — so at scale it
    multiplies vector bytes by LSH_BANDS through the join's shuffle.
    It must NOT feed pair generation: ``ann_lsh_pairs`` uses
    ``lsh_band_rows`` + ``lsh.capped`` on slim 24-byte rows, and only
    joins vectors back to the surviving buckets."""
    return lsh_band_rows(emb).join(
        quantized_frame(emb).filter(F.col("na") > 0), "vec_id"
    )


def ann_lsh_pairs(emb: DataFrame, cos_pct: int = LSH_COS_PCT) -> DataFrame:
    """Banded hyperplane LSH pairs, verified *inside each bucket* — the
    10^12-row scale shape: vectors are shuffled once to their (band, sig)
    buckets — 16 bands × 65,536 signatures (LSH_BANDS × 2^LSH_PLANES_PER_BAND)
    — each surviving bucket runs an in-memory numpy all-pairs verify, and
    only verified pairs (ids + exact ints, no arrays) leave the bucket. A
    pair sharing k bands is verified k times and deduped — cheaper than
    shuffling quantized vectors through a multi-million-row candidate join.

    The 2..cap bucket-size filter (``lsh.capped`` at
    ``config.LSH_BUCKET_CAP``, the text LSH's guard) is computed on SLIM
    (vec_id, band_idx, band_sig) rows BEFORE any vector payload moves:
    most band rows are bucket singletons (65,536 signatures per band) and
    die in the filter, and only the survivors join the quantized vectors
    back — so the explode never multiplies vector bytes through a shuffle,
    and a dominant direction (all vectors near one axis) can never
    materialize an O(bucket²) score matrix in one task: its mega-buckets
    are dropped deterministically, identically in the Spark plan and the
    SQL oracle."""
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    surv = capped(
        lsh_band_rows(emb), ["band_idx", "band_sig"], "vec_id", config.LSH_BUCKET_CAP
    )
    sigs = surv.join(qv, "vec_id")
    thr = cos_pct * cos_pct

    # Segmented verify over SORTED partitions instead of
    # groupBy().applyInPandas: at bench scale the surviving buckets are
    # tiny and numerous (sf1.0: 54,932 buckets of 2..11 members, 322k
    # pair-dots total) and applyInPandas pays ~1 ms of per-group pandas
    # machinery — 55 s of overhead around <1 s of math. One hash
    # repartition on (band_idx, band_sig) + a partition-local sort makes
    # every bucket a contiguous run, and the verify processes ALL runs of
    # one partition in a handful of numpy passes (runs grouped by size so
    # the triangular pair expansion is one broadcast per distinct bucket
    # size, never a per-bucket Python call). Same exchange count as the
    # applyInPandas shape, identical output rows.
    def verify_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [pdf for pdf in it if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        # bucket key: band_idx * 2^LSH_PLANES_PER_BAND + band_sig (injective)
        key = (
            pdf["band_idx"].to_numpy(np.int64) * (1 << LSH_PLANES_PER_BAND)
            + pdf["band_sig"].to_numpy(np.int64)
        )
        ids = pdf["vec_id"].to_numpy(np.int64)
        order = np.lexsort((ids, key))
        key, ids = key[order], ids[order]
        Q = np.stack(pdf["q"].to_numpy())[order]
        na = pdf["na"].to_numpy(np.int64)[order]
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        sizes = np.diff(np.append(starts, len(key)))
        left_parts, right_parts = [], []
        for s in np.unique(sizes):
            if s < 2:
                continue
            run_starts = starts[sizes == s]
            mat = run_starts[:, None] + np.arange(s)[None, :]
            iu, ju = np.triu_indices(s, k=1)
            left_parts.append(mat[:, iu].ravel())
            right_parts.append(mat[:, ju].ravel())
        if not left_parts:
            return
        li = np.concatenate(left_parts)
        ri = np.concatenate(right_parts)
        d = np.einsum("ij,ij->i", Q[li], Q[ri])
        keep = (d > 0) & (10000 * d * d >= thr * na[li] * na[ri])
        li, ri, d = li[keep], ri[keep], d[keep]
        # rows are sorted by vec_id within a run, so ids[li] < ids[ri] —
        # the same canonical (a_id < b_id) order as the bucket verify
        yield pd.DataFrame(
            {
                "a_id": ids[li],
                "b_id": ids[ri],
                "dot": d,
                "na": na[li],
                "nb": na[ri],
            }
        )

    par = emb.sparkSession.sparkContext.defaultParallelism
    return (
        sigs.repartition(par, "band_idx", "band_sig")
        .sortWithinPartitions("band_idx", "band_sig", "vec_id")
        .mapInPandas(
            verify_partition,
            schema="a_id bigint, b_id bigint, dot bigint, na bigint, nb bigint",
        )
        .dropDuplicates(["a_id", "b_id"])
    )
