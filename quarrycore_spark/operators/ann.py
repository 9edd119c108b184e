"""Embedding similarity operators: Arrow-batched numpy twins of the SQL in
plans/vectorops.py, which defines the semantics and is the DuckDB oracle.

Integer contract: q = floor(x_float64 * 1000 + 0.5) as int64, the same
IEEE arithmetic as the SQL expression, and every score is exact int64 — so
results hash-match the oracle and per-batch partial top-k lists merge
exactly.

No operator collects a table. The exact pair join is a block-pair
self-join; the top-k and IVF searches broadcast only stride-sampled rows,
under a cap that fails loudly; ann_lsh_pairs, the scale path, moves
vectors only for members of capped buckets. Operators take the table
alone and read their constants (vectorops' strides, k, nprobe and
thresholds; the caps and block floor here) when called.
"""

from __future__ import annotations

import math
import operator
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from quarrycore_spark import config
from quarrycore_spark.operators.lsh import capped
from quarrycore_spark.plans import vectorops

# Hard caps on the stride-sampled rows a search may broadcast; beyond them
# the collect raises instead of melting the driver. Byte cost at a cap:
# 200k vectors × DIM(64) × 8 B ≈ 102 MB of int64 payload (plus ids and
# norms, ~3 MB) — a deliberate ceiling for a driver with tens of GB.
MAX_BROADCAST_QUERIES = 200_000
MAX_BROADCAST_CENTROIDS = 200_000

# Kernel working-set bound: every (rows × columns) score matrix a kernel
# materializes is chunked to at most this many int64 cells (16 MB). Keeps
# executor allocations small regardless of how the row caps combine
# (200k queries × 200k centroids would otherwise be a 320 GB matrix).
_CHUNK_CELLS = 2_000_000

_QV_SCHEMA = "vec_id bigint, q array<bigint>, na bigint"
_TOPK_SCHEMA = "query_id bigint, neighbor_id bigint, score_q bigint"


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


# Largest quantized norm² (na) the integer scores accept. The widest
# product is _int_scores' dot²·10⁵; the pair predicates compare 10⁴·dot²
# with pct²·na·nb (pct <= 100), which is no wider. By Cauchy-Schwarz
# dot² <= na·nb <= N² when both norms² are <= N, so every product stays
# <= 10⁵·N², inside int64 while N <= isqrt((2⁶³-1) // 10⁵) = 9,603,838:
# ‖q‖ <= 3,099, i.e. ‖embedding‖ <= ~3.1 at the ×1000 quantization.
# Unit-norm embeddings have na ≈ 10⁶; quantized_frame raises above it.
MAX_QUANTIZED_NORM2 = math.isqrt((2**63 - 1) // 100_000)


def _int_scores(dots: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    """sign(dot)·(dot²·10⁵ intdiv na·nb) under numpy broadcasting — the
    oracle's score, divided on non-negative ints. All products stay inside
    int64 while na, nb <= MAX_QUANTIZED_NORM2."""
    pos = (dots * dots * 100000) // (na * nb)
    return np.where(dots < 0, -pos, pos)


def quantize(v: np.ndarray) -> np.ndarray:
    return np.floor(v.astype(np.float64) * 1000 + 0.5).astype(np.int64)


def quantized_frame(emb: DataFrame, spread: bool = True) -> DataFrame:
    """(vec_id, q array<bigint>, na norm²) — Arrow-batched quantization.

    spread=False for consumers whose downstream shuffle re-partitions the
    vectors anyway (embedding_dup_pairs' block explode, ivf_topk's
    candidate join): there the extra exchange of fat q-arrays costs more
    than the scan parallelism buys (measured 3.0 vs 9.2 s at sf1.0 for
    embedding_dup_pairs). A vector whose na exceeds MAX_QUANTIZED_NORM2
    raises ValueError: its integer scores would wrap int64."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(np.int64)
            Q = quantize(np.stack(pdf["embedding"].to_numpy()))
            # checked in float64, which cannot wrap as the int64 na can
            n2 = np.square(Q, dtype=np.float64).sum(axis=1)
            if (n2 > MAX_QUANTIZED_NORM2).any():
                i = int(np.argmax(n2 > MAX_QUANTIZED_NORM2))
                raise ValueError(
                    f"vec_id {ids[i]}: quantized norm² {n2[i]:.6g} exceeds "
                    f"MAX_QUANTIZED_NORM2 = {MAX_QUANTIZED_NORM2} "
                    "(‖embedding‖ > ~3.1); its integer cosine scores would "
                    "overflow int64"
                )
            yield pd.DataFrame({"vec_id": ids, "q": list(Q), "na": (Q * Q).sum(axis=1)})

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


# Block sizing for embedding_dup_pairs: each block-pair task holds two
# blocks of ~n/B rows. B = max(MIN_BLOCKS, ceil(sqrt(n / TARGET))) balances
# the replication cost (n·B rows shuffled) against per-task block size
# (n/B): per-task bytes ≈ 2·(n/B)·(DIM·8 + 24) for the id/q/na arrays, plus
# a score-matrix chunk capped at _CHUNK_CELLS·8 = 16 MB by the chunked
# matmul. At n = 10⁹, B = 100 → 10⁷ rows/block ≈ 5.4 GB/task — the
# documented operating ceiling of the EXACT path (inherent O(n²) work);
# beyond it, ann_lsh_pairs is the scale path. Tables under 6.4 M rows
# resolve to the floor.
TARGET_ROWS_PER_TASK = 100_000
MIN_BLOCKS = 8


def embedding_dup_pairs(emb: DataFrame) -> DataFrame:
    """All pairs with quantized cosine >= PAIR_COS_PCT/100 (dot>0), exact ints.

    Block-pair self-join: row with block i is replicated to every group
    (min(i,j), max(i,j)); group (i,j) block-multiplies block i against
    block j (triangular within a diagonal group). Each unordered pair is
    produced in exactly one group, so no dedup pass is needed, and the
    output equals the SQL all-pairs join for ANY block count — the count
    only changes the physical plan."""
    thr = vectorops.PAIR_COS_PCT**2
    n_rows = emb.count()
    blocks = max(MIN_BLOCKS, math.ceil(math.sqrt(max(n_rows, 1) / TARGET_ROWS_PER_TASK)))
    qv = quantized_frame(emb, spread=False).filter(F.col("na") > 0)
    j = F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("j")
    blocked = (
        qv.withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(blocks)))
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


def _sampled(
    qv: DataFrame, *classes: str
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Each named class of stride-sampled rows as id-sorted (ids, Q, na)
    arrays, from ONE bounded collect: "query vectors" are every
    QUERY_STRIDE-th vector, "centroids" every CENT_STRIDE-th (the
    deterministic stand-in for a trained nlist ≈ √n codebook).

    The limit Σ(cap + 1) keeps every cap loud: each collected row belongs to
    at least one class, so reaching the limit means some class holds more
    than its cap (pigeonhole), and the error fires before any oversized
    broadcast. The limit decides which rows arrive, so the counts in the
    error are lower bounds and need not show every class that is over."""
    known = {
        "query vectors": ("stride", vectorops.QUERY_STRIDE, MAX_BROADCAST_QUERIES),
        "centroids": ("cent_stride", vectorops.CENT_STRIDE, MAX_BROADCAST_CENTROIDS),
    }
    spec = [(c, *known[c]) for c in classes]
    limit = sum(cap + 1 for *_, cap in spec)
    # toArrow, not collect: a collect under CollectLimit scans one
    # partition in a first job and the rest in a second, so the quantize
    # kernel feeding it ran in two serial waves; the Arrow collect takes the
    # same bounded rows in one job.
    tbl = (
        qv.filter(reduce(operator.or_, [F.col("vec_id") % s == 0 for _, _, s, _ in spec]))
        .limit(limit)
        .toArrow()
    )
    ids = tbl.column("vec_id").to_numpy()
    order = np.argsort(ids, kind="stable")
    members = [order[ids[order] % s == 0] for _, _, s, _ in spec]
    if any(len(m) > cap for m, (*_, cap) in zip(members, spec)):
        raise RuntimeError(
            f"refusing to broadcast; {tbl.num_rows} rows collected (limit {limit}) hold "
            + "; ".join(
                f"{c}: {len(m)} (cap {cap}, {knob}={s})"
                for m, (c, knob, s, cap) in zip(members, spec)
            )
            + ". Raise the stride of each class over its cap"
        )
    q = tbl.column("q").to_numpy()  # bigint columns: int64 arrays
    na = tbl.column("na").to_numpy()
    return [
        (ids[m], np.stack(q[m]) if len(m) else np.zeros((0, 1), dtype=np.int64), na[m])
        for m in members
    ]


def _merge_topk(partial: DataFrame, k: int) -> DataFrame:
    """Merge per-batch partial top-k rows into each query's k best by
    (score desc, neighbor id asc), the oracle's order. Each batch sends at
    most k rows per query, so a hot query or list costs the window
    ≤ k·batches rows, never an unbounded group."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "score_q", "rnk")
    )


def ann_topk(emb: DataFrame) -> DataFrame:
    """Brute-force top-ANN_K for the stride-sampled queries. Only the
    queries are broadcast; the table streams through a per-batch partial
    top-k, merged by one window."""
    k = vectorops.ANN_K
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    (queries,) = _sampled(qv, "query vectors")
    b = emb.sparkSession.sparkContext.broadcast(queries)

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
                score = _int_scores(dots, qna[s:e, None], na_s[None, :])
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

    return _merge_topk(qv.mapInPandas(partial_topk, schema=_TOPK_SCHEMA), k)


def _top_centroids(frame: DataFrame, codebook, n: int) -> DataFrame:
    """(vec_id, centroid_id, centroid_score_q) for each row's n best
    centroids of the broadcast id-sorted `codebook`, by (score desc,
    centroid id asc) — the oracle's order. Rows are chunked so the
    (chunk × ncent) score matrix stays under _CHUNK_CELLS."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cids, CQ, cna = codebook.value
        ncent = len(cids)
        if ncent == 0:
            return
        top = min(n, ncent)
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
                scores = _int_scores(_int_matmul(Q[s:e], CQ.T), na[s:e, None], cna[None, :])
                # injective key (score in [-1e5, 1e5], column order ==
                # centroid-id order), so its top-n set is unique: the
                # partition picks argsort's top n, and for n = 1 argmax's
                # first maximum
                key = (np.int64(100001) - scores) * ncent + col
                sel = np.argpartition(key, top - 1, axis=1)[:, :top].ravel()
                rows = np.repeat(np.arange(e - s), top)
                yield pd.DataFrame(
                    {
                        "vec_id": ids[s:e][rows],
                        "centroid_id": cids[sel],
                        "centroid_score_q": scores[rows, sel],
                    }
                )

    return frame.mapInPandas(
        kernel, schema="vec_id bigint, centroid_id bigint, centroid_score_q bigint"
    )


def ivf_assignments(emb: DataFrame) -> DataFrame:
    """IVF coarse assignment: each vector → its best centroid by quantized
    cosine (ties → lowest centroid id), a broadcast codebook against a
    partition-parallel scan."""
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    (cent,) = _sampled(qv, "centroids")
    return _top_centroids(qv, emb.sparkSession.sparkContext.broadcast(cent), 1)


def ivf_topk(emb: DataFrame) -> DataFrame:
    """IVF probe-and-rerank top-ANN_K: each query probes its IVF_NPROBE
    best centroids, and only vectors assigned to those lists are
    exact-reranked.

    One collect yields both sampled classes, and the probes run over an
    Arrow-built frame of the collected queries (already driver-resident
    for the broadcast), so the table is scanned three times — the
    assignments, the candidate join's vector re-attach and the collect —
    not once more per codebook or query set. The rerank is a per-batch
    partial top-k like ann_topk's, so a hot centroid list never lands in
    one task."""
    spark = emb.sparkSession
    k = vectorops.ANN_K
    qv = quantized_frame(emb, spread=False).filter(F.col("na") > 0)
    queries, cent = _sampled(qv, "query vectors", "centroids")
    q_ids, q_Q, q_na = queries
    bq = spark.sparkContext.broadcast(queries)
    bcent = spark.sparkContext.broadcast(cent)
    queries_df = spark.createDataFrame(pa.table({
        "vec_id": pa.array(q_ids, pa.int64()),
        "q": pa.array(list(q_Q), pa.list_(pa.int64())),
        "na": pa.array(q_na, pa.int64()),
    }))
    probes = _top_centroids(queries_df, bcent, vectorops.IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    asg = _top_centroids(
        quantized_frame(emb).filter(F.col("na") > 0), bcent, 1
    ).select("vec_id", "centroid_id")
    cand = (
        asg.join(F.broadcast(probes), "centroid_id")
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
            qi = np.searchsorted(qids, qid_col)
            d = np.einsum("ij,ij->i", Q, qQ[qi])
            score = _int_scores(d, qna[qi], pdf["na"].to_numpy(np.int64))
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

    return _merge_topk(cand.mapInPandas(partial_rerank, schema=_TOPK_SCHEMA), k)


def lsh_band_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_sig) — SLIM hyperplane sign signatures,
    identical banding to the SQL oracle. Deliberately carries no vector
    payload: the bucket-size cap filter runs on these 24-byte rows, and
    quantized vectors join back only for the rows that survive — at scale
    this is the difference between shuffling |q|·LSH_BANDS bytes per
    vector and shuffling |q| once for the (sparse) bucket members."""
    planes = vectorops._planes()  # (bands*planes_per_band, DIM)
    bands, per_band = vectorops.LSH_BANDS, vectorops.LSH_PLANES_PER_BAND

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
            for band in range(bands):
                sl = bits[:, band * per_band : (band + 1) * per_band]
                sig = (sl << np.arange(per_band)).sum(axis=1)
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


def ann_lsh_pairs(emb: DataFrame) -> DataFrame:
    """Banded hyperplane LSH pairs with cosine >= LSH_COS_PCT/100, verified
    *inside each bucket* — the 10^12-row scale shape: only verified pairs
    (ids + exact ints, no arrays) leave a bucket. A pair sharing k bands is
    verified k times and deduped — cheaper than shuffling quantized vectors
    through a multi-million-row candidate join.

    The 2..cap bucket-size filter (``lsh.capped`` at
    ``config.LSH_BUCKET_CAP``) runs on SLIM (vec_id, band_idx, band_sig)
    rows BEFORE any vector payload moves: most band rows are bucket
    singletons and die in the filter, and a dominant direction can never
    materialize an O(bucket²) score matrix in one task — its mega-buckets
    are dropped deterministically, identically in the Spark plan and the
    SQL oracle."""
    thr = vectorops.LSH_COS_PCT**2
    per_band = vectorops.LSH_PLANES_PER_BAND
    qv = quantized_frame(emb).filter(F.col("na") > 0)
    surv = capped(
        lsh_band_rows(emb), ["band_idx", "band_sig"], "vec_id", config.LSH_BUCKET_CAP
    )
    sigs = surv.join(qv, "vec_id")

    def bucket_key(pdf: pd.DataFrame) -> np.ndarray:
        # band_idx * 2^LSH_PLANES_PER_BAND + band_sig: injective, and
        # ascending in the partition's (band_idx, band_sig) sort order
        return (
            pdf["band_idx"].to_numpy(np.int64) * (1 << per_band)
            + pdf["band_sig"].to_numpy(np.int64)
        )

    def verify_runs(pdf: pd.DataFrame, key: np.ndarray) -> pd.DataFrame | None:
        # all pairs inside each complete bucket run, in a handful of numpy
        # passes: runs are grouped by size, so the triangular pair expansion
        # is one broadcast per distinct bucket size, never a per-bucket call
        if len(key) < 2:
            return None
        ids = pdf["vec_id"].to_numpy(np.int64)
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        sizes = np.diff(np.append(starts, len(key)))
        left_parts, right_parts = [], []
        for s in np.unique(sizes):
            if s < 2:
                continue
            mat = starts[sizes == s][:, None] + np.arange(s)[None, :]
            iu, ju = np.triu_indices(s, k=1)
            left_parts.append(mat[:, iu].ravel())
            right_parts.append(mat[:, ju].ravel())
        if not left_parts:
            return None
        li = np.concatenate(left_parts)
        ri = np.concatenate(right_parts)
        Q = np.stack(pdf["q"].to_numpy())
        na = pdf["na"].to_numpy(np.int64)
        d = np.einsum("ij,ij->i", Q[li], Q[ri])
        keep = (d > 0) & (10000 * d * d >= thr * na[li] * na[ri])
        li, ri, d = li[keep], ri[keep], d[keep]
        # rows are sorted by vec_id within a run, so ids[li] < ids[ri] —
        # the canonical (a_id < b_id) order
        return pd.DataFrame(
            {"a_id": ids[li], "b_id": ids[ri], "dot": d, "na": na[li], "nb": na[ri]}
        )

    # Segmented verify over SORTED partitions instead of
    # groupBy().applyInPandas: at bench scale the surviving buckets are
    # tiny and numerous (sf1.0: 54,932 buckets of 2..11 members, 322k
    # pair-dots total) and applyInPandas pays ~1 ms of per-group pandas
    # machinery — 55 s of overhead around <1 s of math. One hash
    # repartition on (band_idx, band_sig) + a partition-local sort makes
    # every bucket a contiguous run. The verify works batch by batch and
    # carries only the trailing run, which may continue in the next batch,
    # so a task holds one Arrow batch plus at most LSH_BUCKET_CAP rows.
    def verify_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                continue
            key = bucket_key(pdf)
            cut = int(np.searchsorted(key, key[-1]))
            carry = pdf.iloc[cut:]
            done = verify_runs(pdf.iloc[:cut], key[:cut])
            if done is not None:
                yield done
        if carry is not None:
            done = verify_runs(carry, bucket_key(carry))
            if done is not None:
                yield done

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
