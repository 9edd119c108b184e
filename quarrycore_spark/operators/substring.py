"""Long-common-substring overlap detection — stage 4 of the dedup cascade.

North-rule replacement for the reference's difflib partial-match scan
(fuzzy_matcher.py:213-236): two docs share a common substring of length
>= L iff they share an L-gram, so the scalable form is an equi-join on
hashed L-grams — one shuffle on gram hash and one window pass over each
capped gram bucket. The maximal match *extent* of each candidate pair is
refined in substring_extents(), an Arrow-batched pass over the pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quarrycore_spark import config
from quarrycore_spark.functions import dialect as D
from quarrycore_spark.operators.lsh import capped
from quarrycore_spark.operators.md5grams import window_hashes60
from quarrycore_spark.operators.signatures import doc_hashes


def winnow_fingerprints(nt: str, k: int, w: int) -> np.ndarray:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): k-gram rolling
    hashes, min per w-window, distinct. Guarantee: two texts sharing a
    substring of length >= w + k - 1 share at least one fingerprint —
    content-based selection, so both sides pick the same hashes."""
    n = len(nt)
    if n < k:
        p = _prefix_hashes(nt)
        return np.unique(p[-1:])  # whole-text hash
    p = _prefix_hashes(nt)
    pw = np.uint64(pow(int(_HB), k, 1 << 64))
    g = _grams_hashed(p, k, pw)
    if len(g) <= w:
        return np.unique(g.min(keepdims=True))
    win = np.lib.stride_tricks.sliding_window_view(g, w)
    return np.unique(win.min(axis=1))



def _capped_bucket_pairs(grams: DataFrame) -> DataFrame:
    """(a_id, b_id, shared_grams) over (doc_id, g) rows: every doc pair
    a_id < b_id sharing a gram bucket of 2..cap members, with the number of
    buckets they share — one wide shuffle of (doc_id, g) and ONE pass over
    it (same shuffle discipline as operators/lsh.py).

    Both windows share one partitioning and sort (g, doc_id): the first,
    ``lsh.capped``, counts each bucket, so boilerplate buckets above
    ``config.LSH_BUCKET_CAP`` are dropped before anything is collected; the
    second gives each member the running list of the kept bucket's earlier
    (lower) doc_ids, bounded by the cap. A self-join on g would run the
    gram kernel once per side."""
    lower = Window.partitionBy("g").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        capped(grams, "g", "doc_id", config.LSH_BUCKET_CAP)
        .withColumn("lower", F.collect_list("doc_id").over(lower))
        .select(F.explode("lower").alias("a_id"), F.col("doc_id").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("shared_grams"))
    )


def winnow_doc_pairs(
    docs: DataFrame,
    min_overlap: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scale form of gram_doc_pairs: winnowing fingerprints instead of
    every-position grams (~w/2× fewer exploded rows, same >=min_overlap
    detection guarantee). k = min_overlap//2, w = min_overlap - k + 1."""
    k = max(min_overlap // 2, 4)
    w = min_overlap - k + 1
    docs = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    fps = doc_hashes(docs, lambda nt: winnow_fingerprints(nt, k, w))
    return _capped_bucket_pairs(fps.select("doc_id", F.explode("gs").alias("g")))


def gram_doc_pairs(docs: DataFrame, l_gram: int) -> DataFrame:
    """(a_id, b_id, shared_grams): doc pairs sharing >=1 common substring of
    length >= l_gram. Grams occurring in more than ``config.LSH_BUCKET_CAP``
    docs are dropped (boilerplate guard, deterministic).

    Gram hashing runs in the batched md5 kernel (operators/md5grams.py) —
    identical integers to the L-gram SQL of the DuckDB oracle
    (``registry._substring_pairs_sql``), but C md5 over Arrow batches
    instead of an interpreted transform() lambda."""
    grams = doc_hashes(docs, lambda nt: window_hashes60(nt, l_gram))
    return _capped_bucket_pairs(grams.select("doc_id", F.explode("gs").alias("g")))


# ---------------------------------------------------------------------------
# Suffix-array refinement: exact maximal-overlap extent per candidate pair
# ---------------------------------------------------------------------------


def _suffix_array(s: str) -> np.ndarray:
    """O(n log^2 n) suffix array via prefix-doubling on numpy argsort."""
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - k] = rank[k:]
        sa = np.lexsort((key2, rank))
        ra, rb = rank[sa], key2[sa]
        bumped = np.ones(n, dtype=np.int64)
        bumped[1:] = (ra[1:] != ra[:-1]) | (rb[1:] != rb[:-1])
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[sa] = np.cumsum(bumped) - 1
        rank = new_rank
        if rank[sa[-1]] == n - 1:
            break
        k <<= 1
    return sa


def _lcp_array(s: str, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[i] = LCP(sa[i-1], sa[i])."""
    n = len(s)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        if rank[i] > 0:
            j = sa[rank[i] - 1]
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            lcp[rank[i]] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


_HB = np.uint64(1099511628211)


_HB_INV = np.uint64(pow(int(_HB), -1, 1 << 64))  # B is odd ⇒ invertible mod 2^64


def _prefix_hashes(s: str) -> np.ndarray:
    """P[i] = polynomial hash of s[:i] over uint64 (wraparound mod 2^64),
    fully vectorized: P[i+1] = B^i · Σ_{j≤i} c[j]·B^{-j} (cumsum/cumprod)."""
    c = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(c)
    p = np.empty(n + 1, dtype=np.uint64)
    p[0] = 0
    if n == 0:
        return p
    binv = np.full(n, _HB_INV, dtype=np.uint64)
    binv[0] = 1
    binv_pows = np.cumprod(binv)            # B^{-j}
    pows = np.full(n, _HB, dtype=np.uint64)
    pows[0] = 1
    pows = np.cumprod(pows)                 # B^{i}
    s_cum = np.cumsum(c * binv_pows)        # Σ c[j]·B^{-j}
    p[1:] = pows * s_cum
    return p


def _grams_hashed(p: np.ndarray, length: int, pow_l: np.uint64) -> np.ndarray:
    """Hashes of all `length`-grams from prefix hashes (vectorized)."""
    n = len(p) - 1
    if length > n:
        return np.empty(0, dtype=np.uint64)
    return p[length:] - p[: n - length + 1] * pow_l


def lcs_len_hashed(a: str, b: str, lo: int = 1) -> int:
    """Longest-common-substring length via binary search over L with
    rolling-hash gram-set intersection — O((n+m) log n) vectorized, ~50×
    faster per pair than the suffix-array route for the candidate-verify
    loop. Hash collisions (~2^-64·nm) are the only error source; the
    classification's containment test is confirmed with an exact substring
    check by the caller."""
    pa, pb = _prefix_hashes(a), _prefix_hashes(b)
    hi = min(len(a), len(b))
    if hi == 0:
        return 0

    def share(length: int) -> bool:
        pw = np.uint64(pow(int(_HB), length, 1 << 64))
        ga = _grams_hashed(pa, length, pw)
        gb = _grams_hashed(pb, length, pw)
        return len(np.intersect1d(ga, gb, assume_unique=False)) > 0

    if not share(max(lo, 1)):
        return 0  # caller only needs "< lo" precision below the threshold
    best = max(lo, 1)
    lo_s, hi_s = best, hi
    while lo_s < hi_s:
        mid = (lo_s + hi_s + 1) // 2
        if share(mid):
            lo_s = mid
        else:
            hi_s = mid - 1
    return lo_s


def lcs_extent_hashed(a: str, b: str, lo: int = 1) -> tuple[int, int, int]:
    """(length, start_a, start_b) of a maximal common substring — the
    reference's partial-match scan returns the overlap's position
    (fuzzy_matcher.py:213-236), so the extent matters, not just the length.

    Length comes from the same binary search as lcs_len_hashed; positions
    are recovered by intersecting the L-gram hash sets at the found length
    and taking the smallest common hash (deterministic on both sides), then
    CONFIRMED by an exact string compare — a colliding hash falls through
    to the next common value, so the returned extent always satisfies
    a[start_a:start_a+length] == b[start_b:start_b+length]. Returns
    (len, -1, -1) below the `lo` threshold."""
    length = lcs_len_hashed(a, b, lo)
    if length < max(lo, 1):
        return length, -1, -1
    pw = np.uint64(pow(int(_HB), length, 1 << 64))
    ga = _grams_hashed(_prefix_hashes(a), length, pw)
    gb = _grams_hashed(_prefix_hashes(b), length, pw)
    common, ia, ib = np.intersect1d(ga, gb, return_indices=True)
    for i in range(len(common)):
        sa, sb = int(ia[i]), int(ib[i])
        if a[sa : sa + length] == b[sb : sb + length]:
            return length, sa, sb
    # every common hash was a collision (probability ~2^-64·nm): fall back
    # to the exact suffix-array extent
    return _lcs_extent_exact(a, b)


def _lcs_extent_exact(a: str, b: str) -> tuple[int, int, int]:
    """Exact maximal extent via suffix array + LCP over the sentinel-joined
    string (sentinel chr(1) cannot occur in normalized text)."""
    joined = a + "\x01" + b
    sa_arr = _suffix_array(joined)
    lcp = _lcp_array(joined, sa_arr)
    na = len(a)
    best, best_a, best_b = 0, -1, -1
    for i in range(1, len(joined)):
        x, y = sa_arr[i - 1], sa_arr[i]
        if (x < na) != (y < na):
            v = int(lcp[i])
            # cap at distance to the sentinel so matches never span it
            v = min(v, abs((na - x) if x < na else (na - y)))
            if v > best:
                pa = int(x if x < na else y)
                pb = int((y if x < na else x) - na - 1)
                best, best_a, best_b = v, pa, pb
    return best, best_a, best_b


def longest_common_substring_len(a: str, b: str) -> int:
    """Length of the longest common substring (the exact extent's length)."""
    return _lcs_extent_exact(a, b)[0]


def _pair_ends(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows (a_id, b_id, side, nt) → one row per pair (a_id, b_id, nt_a,
    nt_b): side 0 carries a_id's text, side 1 b_id's."""
    cols = ["a_id", "b_id", "nt"]
    return pdf.loc[pdf["side"] == 0, cols].merge(
        pdf.loc[pdf["side"] == 1, cols], on=["a_id", "b_id"], suffixes=("_a", "_b")
    )


def substring_extents(
    docs: DataFrame,
    cand: DataFrame,
    min_overlap: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Refine candidate pairs with the exact longest-common-substring length
    and the contains/contained_in/overlap classification
    (reference _classify_match fuzzy_matcher.py:200-211).

    `cand` holds distinct (a_id, b_id) pairs, as winnow_doc_pairs and
    gram_doc_pairs emit them. Each pair is split into its two ends, so the
    normalized texts are joined ONCE (not once per side); the ends are then
    hash-partitioned and sorted by (a_id, b_id), which puts both ends of a
    pair next to each other in one partition, and an Arrow-batched pass
    pairs them up and computes the LCS extent. A pair whose ends straddle
    two Arrow batches is carried into the next batch. Candidate lists are
    bounded by the gram buckets' cap, so texts travel to pairs — at scale
    this is a broadcast-or-shuffle join on doc_id, never an all-pairs op.
    """
    nt = docs.select(
        F.col(id_col).alias("doc_id"), F.expr(D.norm_text(text_col, D.SPARK)).alias("nt")
    )
    ends = (
        cand.select(
            "a_id", "b_id", F.posexplode(F.array("a_id", "b_id")).alias("side", "doc_id")
        )
        .join(nt, "doc_id")
        .select("a_id", "b_id", "side", "nt")
        # the pair list is tiny in bytes, so a bytes-sized exchange would
        # put it in one partition — but each pair costs an LCS search;
        # spread the CPU-bound verify across all cores
        .repartition(docs.sparkSession.sparkContext.defaultParallelism, "a_id", "b_id")
        .sortWithinPartitions("a_id", "b_id")
    )

    def extents(pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = _pair_ends(pdf)
        exts = [
            lcs_extent_hashed(a, b, lo=min_overlap)
            for a, b in zip(pairs["nt_a"].astype(str), pairs["nt_b"].astype(str))
        ]
        return pd.DataFrame(
            {
                "a_id": pairs["a_id"].to_numpy(np.int64),
                "b_id": pairs["b_id"].to_numpy(np.int64),
                "lcs_len": pd.array([e[0] for e in exts], dtype="int64"),
                "start_a": pd.array([e[1] for e in exts], dtype="int64"),
                "start_b": pd.array([e[2] for e in exts], dtype="int64"),
                "len_a": pairs["nt_a"].str.len().astype("int64").to_numpy(),
                "len_b": pairs["nt_b"].str.len().astype("int64").to_numpy(),
            }
        )

    def compute(it):
        carry = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if pdf.empty:
                continue
            # the batch's last pair may continue in the next batch
            tail = (pdf["a_id"] == pdf["a_id"].iat[-1]) & (
                pdf["b_id"] == pdf["b_id"].iat[-1]
            )
            carry = pdf[tail]
            yield extents(pdf[~tail])
        if carry is not None:
            yield extents(carry)

    ext = ends.mapInPandas(
        compute,
        schema=(
            "a_id bigint, b_id bigint, lcs_len bigint, start_a bigint, "
            "start_b bigint, len_a bigint, len_b bigint"
        ),
    ).filter(F.col("lcs_len") >= min_overlap)
    # classification mirrors the reference's ladder (fuzzy_matcher.py:200-211):
    # a qualifying overlap with length ratio > 1.5 is contains/contained_in
    # (integer-exact: 2·len > 3·len_other), full containment included; the
    # rest is a plain overlap.
    return ext.withColumn(
        "match_type",
        F.when(
            (F.col("lcs_len") == F.least("len_a", "len_b"))
            | (2 * F.col("len_a") > 3 * F.col("len_b"))
            | (2 * F.col("len_b") > 3 * F.col("len_a")),
            F.when(F.col("len_a") < F.col("len_b"), F.lit("contained_in")).otherwise(
                F.lit("contains")
            ),
        ).otherwise(F.lit("overlap")),
    )
