"""Vectorized signature computation — the production (scale) path.

One `mapInPandas` pass computes, per document: normalized text, sha256
content hash, the 128-slot MinHash signature, the 16 LSH band hashes, and
the 60-bit SimHash — all with numpy over Arrow batches (no per-row Python
in the hot loop beyond the md5 shingle digests).

The math is bit-identical to the SQL emitted by
``quarrycore_spark.functions.dialect`` (the DuckDB oracle path):
md5-prefix integer hashing, universal hashing mod the 31-bit Mersenne
prime, polynomial band folding. Parity is enforced by
tests/test_signature_parity.py.

Reference semantics covered (SURVEY.md §2.3):
  D1 content hash   — sha256 over normalized text (hash_db.py:326-336)
  D4 char shingling — k=7, short-text rule (minhash_redis.py:162-184)
  D6 MinHash        — 128 perms (minhash_redis.py:186-202)
  D7 LSH banding    — 16 bands × 8 rows (minhash_lsh.py:92-103)
  D10 SimHash       — north-rule replacement for fuzzy tiers
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.config import DEFAULT_CONFIG, MERSENNE_31, DedupConfig
from quarrycore_spark.extraction.canonical import _collapse_ws
from quarrycore_spark.operators._kernel_log import kernel_span
from quarrycore_spark.operators._partitioning import spread

# sig/bands values are residues mod the 31-bit Mersenne prime, so INT32
# carries them exactly — half the bytes of bigint through the Arrow IPC,
# the parquet checkpoint, and the band shuffle. Consumers that fold a band
# hash into a wider key must cast to long first (operators/lsh.py bkey).
SIG_SCHEMA = (
    "doc_id bigint, content_hash string, sig array<int>, "
    "bands array<int>, simhash bigint"
)

_BAND_MULT = 1000003

# Cache block for the batch signature kernel: 64k int64 = 512 KB — the
# chunk plus its two working buffers sit in L2, so the 128 permutation
# passes + 60 simhash bit passes re-read cache, not RAM.
_CHUNK_ELEMS = 65536


def normalize_text(text: str) -> str:
    """Shingle-normalization contract (reference minhash_redis.py:174-176).

    Matches dialect.norm_text: collapse ASCII whitespace runs to one space
    (Java \\s semantics, see canonical._collapse_ws), trim, lowercase."""
    return _collapse_ws(text).lower()


def doc_hashes(docs: DataFrame, hashes: Callable[[str], np.ndarray]) -> DataFrame:
    """docs(doc_id, text, ...) → (doc_id bigint, gs array<bigint>), one row
    per document: gs = hashes(normalize_text(text)).

    The one Arrow boundary of the per-document text-hash levels (L-gram
    buckets, winnow fingerprints, word trigrams, fingerprint sketches):
    each document crosses it once, as one array row, and consumers
    explode or reduce ``gs`` on the Spark side."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(np.int64),
                    "gs": [
                        hashes(normalize_text(t)).astype(np.int64)
                        for t in pdf["text"].astype(str)
                    ],
                }
            )

    return spread(docs.select("doc_id", "text")).mapInPandas(
        compute, schema="doc_id bigint, gs array<bigint>"
    )


def char_shingles(nt: str, k: int) -> list[str]:
    """Distinct char k-shingles; len(text)<k → {text}.

    DELIBERATE deviation from the reference (minhash_redis.py:162-184): the
    reference returns an EMPTY set for empty text and for raw-length>=k
    texts whose normalized length < k (its loop range goes negative), which
    gives all such degenerate docs identical init-value signatures — i.e.
    every whitespace-heavy/short doc becomes a mutual near-dup. This repo
    extends the reference's own short-text rule ({text} for short inputs)
    to those cases instead, so degenerate docs get content-based signatures
    and only true duplicates collide. The SQL dialect (dialect.char_shingles)
    and the recall simulator (tests/test_pipeline.py) encode the same rule,
    so recall parity is measured against consistent semantics."""
    if len(nt) < k:
        return [nt]
    return list(dict.fromkeys(nt[i : i + k] for i in range(len(nt) - k + 1)))


def _md5_prefix_ints(shingles: list[str], nchars: int) -> np.ndarray:
    """First `nchars` hex chars of md5 as int64 — matches dialect.hex_int."""
    return np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:nchars], 16) for s in shingles),
        dtype=np.int64,
        count=len(shingles),
    )


_POLY_B = np.uint64(1099511628211)  # FNV-64 prime
_MIX = np.uint64(0xFF51AFD7ED558CCD)  # murmur3 finalizer constant


def _poly_shingle_hashes(nt: str, k: int) -> np.ndarray:
    """Vectorized rolling-hash char-k-gram hashes (uint64), murmur-mixed.

    The fast signature family for the production pipeline: ~300× faster
    than per-shingle md5 because the whole document hashes in a handful of
    numpy passes. Shingles are over unicode codepoints (utf-32), matching
    the char-shingle semantics of the md5 family. Distinctness via
    np.unique on the hash values (same set on any replica — deterministic).
    """
    c = np.frombuffer(nt.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(c)
    if n == 0:
        c = np.zeros(1, dtype=np.uint64)
        n = 1
    if n < k:
        win = 1
        k_eff = n
    else:
        win = n - k + 1
        k_eff = k
    h = np.zeros(win, dtype=np.uint64)
    for j in range(k_eff):
        h = h * _POLY_B + c[j : j + win]
    h ^= h >> np.uint64(33)
    h *= _MIX
    h ^= h >> np.uint64(33)
    return np.unique(h)


def poly_simhash(nt: str, k: int, bits: int) -> int:
    """Poly-family SimHash of normalized text: per-bit majority over the
    60-bit shingle hashes. Shared by doc_signature(family='poly') and the
    datasketch signature family (whose minhash scheme differs but whose
    simhash stage is family-independent)."""
    hu = _poly_shingle_hashes(nt, k)
    hs60 = (hu >> np.uint64(4)).astype(np.int64) & ((1 << bits) - 1)
    bits_m = (hs60[:, None] >> np.arange(bits)[None, :]) & 1
    ones = bits_m.sum(axis=0)
    return int(((2 * ones > len(hu)).astype(np.int64) << np.arange(bits)).sum())


def doc_signature(
    text: str,
    cfg: DedupConfig,
    a: np.ndarray,
    b: np.ndarray,
    family: str = "md5",
) -> tuple[str, np.ndarray, np.ndarray, int]:
    nt = normalize_text(text)
    ch = hashlib.sha256(nt.encode("utf-8")).hexdigest()
    if family == "poly":
        # hu is already unique (np.unique in _poly_shingle_hashes). The
        # derived hs31/hs60 sets are deliberately NOT re-uniqued: minhash is
        # invariant to duplicates, and the simhash majority uses len(hu) as
        # its denominator — bit-identical to _batch_signatures_poly, which
        # processes concatenated per-doc segments and cannot re-unique.
        hu = _poly_shingle_hashes(nt, cfg.shingle_size)
        hs31 = (hu % np.uint64(MERSENNE_31)).astype(np.int64)
        hs60 = (hu >> np.uint64(4)).astype(np.int64) & ((1 << cfg.simhash_bits) - 1)
        sig = ((hs31[:, None] * a[None, :] + b[None, :]) % MERSENNE_31).min(axis=0)
        bands = np.empty(cfg.lsh_bands, dtype=np.int64)
        for i in range(cfg.lsh_bands):
            acc = np.int64(sig[i * cfg.lsh_rows])
            for s in sig[i * cfg.lsh_rows + 1 : (i + 1) * cfg.lsh_rows]:
                acc = (acc * _BAND_MULT + s) % MERSENNE_31
            bands[i] = acc
        bits = (hs60[:, None] >> np.arange(cfg.simhash_bits)[None, :]) & 1
        ones = bits.sum(axis=0)
        simhash = int(
            ((2 * ones > len(hu)).astype(np.int64) << np.arange(cfg.simhash_bits)).sum()
        )
        return ch, sig, bands, simhash
    sh = char_shingles(nt, cfg.shingle_size)
    # 31-bit hashes for MinHash (np.unique = array_distinct: set semantics)
    hs31 = np.unique(_md5_prefix_ints(sh, 8) % MERSENNE_31)
    # minhash: min over shingles of (a*h+b) mod p, per permutation.
    # The reduction is t - (t // p) * p, not np.mod — numpy's int64
    # floor_divide by scalar is SIMD, mod is not (~2.5x); exact for the
    # non-negative t here, so bit-identical (test_signature_parity).
    t = hs31[:, None] * a[None, :] + b[None, :]
    t -= (t // MERSENNE_31) * MERSENNE_31
    sig = t.min(axis=0)
    # band hashes: order-sensitive polynomial fold mod p (dialect.band_hash)
    bands = np.empty(cfg.lsh_bands, dtype=np.int64)
    for i in range(cfg.lsh_bands):
        acc = np.int64(sig[i * cfg.lsh_rows])
        for s in sig[i * cfg.lsh_rows + 1 : (i + 1) * cfg.lsh_rows]:
            acc = (acc * _BAND_MULT + s) % MERSENNE_31
        bands[i] = acc
    # simhash over 60-bit shingle hashes: majority vote per bit
    hs60 = np.unique(_md5_prefix_ints(sh, 15))
    bits = (hs60[:, None] >> np.arange(cfg.simhash_bits)[None, :]) & 1
    ones = bits.sum(axis=0)
    simhash = int(((2 * ones > len(hs60)).astype(np.int64) << np.arange(cfg.simhash_bits)).sum())
    return ch, sig, bands, simhash


_MASK64 = (1 << 64) - 1

# Worker-lifetime scratch buffers for the batched shingle-hash prep: the
# three ~8 MB working arrays are allocated ONCE per Python worker (workers
# are reused across tasks, spark.python.worker.reuse) instead of per
# batch — after the first batch the prep touches no fresh pages at all,
# which matters in this sandbox (first-touch faults serialize
# machine-wide) and on any busy host (allocator contention).
_PREP_BUFS: dict[str, np.ndarray] = {}

# Codepoint budget per prep chunk (chunking splits across docs only — a
# single doc larger than this becomes its own chunk). Also the cap on
# CACHED scratch size: a request above it (one multi-MB outlier doc)
# gets a transient allocation instead of permanently inflating every
# reused worker's resident memory (ADVICE r6).
_PREP_BUDGET = 1_000_000


def _scratch(name: str, n: int, dtype) -> np.ndarray:
    if n > _PREP_BUDGET:
        return np.empty(n, dtype=dtype)
    buf = _PREP_BUFS.get(name)
    if buf is None or len(buf) < n:
        buf = np.empty(n, dtype=dtype)
        _PREP_BUFS[name] = buf
    return buf[:n]


def _prep_hashes_batch(nts: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Batched `_poly_shingle_hashes` over pre-normalized texts: returns
    (hu_all, lengths) — the concatenation of each doc's SORTED-DISTINCT
    shingle hashes plus per-doc counts, bit-identical to calling
    `_poly_shingle_hashes` per doc (pinned by test_signature_parity).

    One rolling-hash pass runs over the CONCATENATED codepoint buffer in
    L2-sized blocks (k in-place multiply-adds per block, same uint64 wrap
    as the per-doc path); windows spanning doc boundaries are simply
    never copied out. Dedup is an in-place per-doc sort on views of one
    scratch buffer + a single vectorized neighbour-compare — no per-doc
    allocations anywhere (the per-doc path paid ~20: encode/astype/
    zeros/7×2 loop temporaries/np.unique)."""
    n_docs = len(nts)
    counts = np.empty(n_docs, dtype=np.int64)
    for j, nt in enumerate(nts):
        counts[j] = len(nt) or 1  # empty text hashes as a single NUL
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    total = int(offs[-1])
    big = _scratch("cp", total, np.uint64)
    for j, nt in enumerate(nts):
        if nt:
            big[offs[j] : offs[j + 1]] = np.frombuffer(
                nt.encode("utf-32-le"), dtype=np.uint32
            )
        else:
            big[offs[j]] = 0
    # rolling hash at every start position (chunked, in-place); positions
    # within k-1 of a doc's end produce cross-doc garbage that the
    # window-copy below never reads
    H = _scratch("h", total, np.uint64)
    shift33 = np.uint64(33)
    for s0 in range(0, total, _CHUNK_ELEMS):
        e0 = min(s0 + _CHUNK_ELEMS, total)
        L = e0 - s0
        hb = H[s0:e0]
        hb[:] = 0
        for j in range(k):
            np.multiply(hb, _POLY_B, out=hb)
            # windows reaching past `total` are cross-doc garbage never
            # copied out, but the slice length must clamp at 0 — a
            # negative value would wrap Python-style (hb[:-1] is NOT
            # empty) and misalign the add
            n_add = max(min(s0 + j + L, total) - s0 - j, 0)
            np.add(hb[:n_add], big[s0 + j : s0 + j + n_add], out=hb[:n_add])
        tmp = np.right_shift(hb, shift33)
        np.bitwise_xor(hb, tmp, out=hb)
        np.multiply(hb, _MIX, out=hb)
        np.right_shift(hb, shift33, out=tmp)
        np.bitwise_xor(hb, tmp, out=hb)
    # copy each doc's valid windows out, sort in place, dedupe vectorized
    wins = np.maximum(counts - (k - 1), 1)
    woffs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(wins, out=woffs[1:])
    W = _scratch("w", int(woffs[-1]), np.uint64)
    for j in range(n_docs):
        n = int(counts[j])
        s, w0 = int(offs[j]), int(woffs[j])
        if n >= k:
            W[w0 : w0 + n - k + 1] = H[s : s + n - k + 1]
            W[w0 : w0 + n - k + 1].sort()
        else:
            # short doc: ONE window over all n codepoints (k_eff = n) —
            # the chunked pass above used k, so recompute exactly
            h = 0
            for p in range(n):
                h = (h * int(_POLY_B) + int(big[s + p])) & _MASK64
            h ^= h >> 33
            h = (h * int(_MIX)) & _MASK64
            h ^= h >> 33
            W[w0] = h
    keep = _scratch("k", int(woffs[-1]), np.bool_)
    keep[:1] = True
    np.not_equal(W[1:], W[:-1], out=keep[1:])
    keep[woffs[:-1]] = True
    hu_all = W[keep]  # the one fresh allocation: the output itself
    ki = _scratch("ki", int(woffs[-1]), np.int64)
    np.copyto(ki, keep)
    lengths = np.add.reduceat(ki, woffs[:-1])
    return hu_all, lengths


def _batch_signatures_poly(
    texts: list[str], cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch poly-family signatures — identical output to per-doc
    doc_signature(family='poly') (pinned by tests), but all the minhash /
    band-fold / simhash arithmetic runs as segmented numpy over the
    concatenated shingle hashes of the batch (np.minimum.reduceat /
    np.add.reduceat), cutting per-doc Python overhead ~10×. The shingle
    hashing itself is also batched (_prep_hashes_batch), so per-doc work
    is normalize + sha256 + four light numpy calls."""
    n_docs = len(texts)
    ch = [None] * n_docs
    nts: list[str] = [None] * n_docs  # type: ignore[list-item]
    cps = np.empty(n_docs, dtype=np.int64)
    for j, text in enumerate(texts):
        nt = normalize_text(text)
        ch[j] = hashlib.sha256(nt.encode("utf-8")).hexdigest()
        nts[j] = nt
        cps[j] = len(nt) or 1
    # chunk docs so the 1-D working buffers stay <= 8 MB (glibc recycles
    # heap blocks this size; larger blocks hit the slow mmap/fault path).
    # Chunking happens BEFORE hashing (codepoint budget ~ window budget),
    # so nothing is hashed twice — the old shape hashed the whole batch
    # once to measure it, then re-hashed every over-budget sub-chunk.
    budget = _PREP_BUDGET
    if cps.sum() > budget and n_docs > 1:
        out_sig, out_bands, out_sim = [], [], []
        i = 0
        while i < n_docs:
            j = i
            tot = 0
            while j < n_docs and (tot + cps[j] <= budget or j == i):
                tot += cps[j]
                j += 1
            s, bd, sm = _chunk_signatures_poly(nts[i:j], cfg, a, b)
            out_sig.append(s)
            out_bands.append(bd)
            out_sim.append(sm)
            i = j
        return (
            ch,
            np.concatenate(out_sig),
            np.concatenate(out_bands),
            np.concatenate(out_sim),
        )
    sig, bands, sim = _chunk_signatures_poly(nts, cfg, a, b)
    return ch, sig, bands, sim


def _chunk_signatures_poly(
    nts: list[str], cfg: DedupConfig, a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Blocked minhash/band/simhash kernel over one ≤budget chunk of
    pre-normalized texts."""
    n_docs = len(nts)
    hu_all, lengths = _prep_hashes_batch(nts, cfg.shingle_size)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    # --- minhash + simhash: CACHE-BLOCKED passes -------------------------
    # The shingle stream is processed in L2-sized chunks (_CHUNK_ELEMS
    # int64s ≈ 512 KB) and ALL 128 permutations + 60 simhash bit-counts run
    # while the chunk is cache-resident. The alternative — 188 full passes
    # over an 8 MB buffer — moves ~7 TB through RAM per 10⁹ shingles and is
    # memory-bandwidth-bound: measured here, it runs 2.8× slower when other
    # cores are busy (the 4-core scaling legs!) while the blocked kernel's
    # wall is contention-immune. Same O(S·P) op count, bit-identical
    # results (pinned against doc_signature by test_signature_parity).
    #
    # The in-chunk modular reduction is t - (t // p) * p, NOT np.mod:
    # numpy's int64 floor_divide-by-scalar is SIMD (libdivide-style) but
    # np.mod is not — measured on 64k-element chunks: mod 227 µs vs
    # floordiv+mul+sub 90 µs, and the mod was ~80% of the whole minhash
    # inner loop. Exact for non-negative t (h, a, b >= 0; a·h+b <= 2^62),
    # so results stay bit-identical (pinned by test_signature_parity).
    # An earlier 12-op shift/mask Mersenne fold measured slower than
    # np.mod (6.76 s vs 3.55 s on a 6k-doc A/B) and stays retired.
    hs31 = (hu_all % np.uint64(MERSENNE_31)).astype(np.int64)
    mask60 = np.uint64((1 << cfg.simhash_bits) - 1)
    hs60 = ((hu_all >> np.uint64(4)) & mask60).astype(np.int64)
    S = len(hs31)
    sig = np.full((n_docs, cfg.num_perm), np.iinfo(np.int64).max, dtype=np.int64)
    ones = np.zeros((n_docs, cfg.simhash_bits), dtype=np.int64)
    ends = starts + lengths
    tmp = np.empty(_CHUNK_ELEMS, dtype=np.int64)
    tmp_q = np.empty(_CHUNK_ELEMS, dtype=np.int64)
    for s0 in range(0, S, _CHUNK_ELEMS):
        e0 = min(s0 + _CHUNK_ELEMS, S)
        L = e0 - s0
        d0 = int(np.searchsorted(ends, s0, side="right"))
        d1 = int(np.searchsorted(starts, e0, side="left"))
        loc = np.maximum(starts[d0:d1] - s0, 0)
        hc = hs31[s0:e0]
        tl = tmp[:L]
        ql = tmp_q[:L]
        for p in range(cfg.num_perm):
            np.multiply(hc, a[p], out=tl)
            np.add(tl, b[p], out=tl)
            # tl mod MERSENNE_31 as tl - (tl // p) * p — see the note above
            np.floor_divide(tl, MERSENNE_31, out=ql)
            np.multiply(ql, MERSENNE_31, out=ql)
            np.subtract(tl, ql, out=tl)
            part = np.minimum.reduceat(tl, loc)
            np.minimum(sig[d0:d1, p], part, out=sig[d0:d1, p])
        hc6 = hs60[s0:e0]
        for bit in range(cfg.simhash_bits):
            np.right_shift(hc6, bit, out=tl)
            np.bitwise_and(tl, 1, out=tl)
            part = np.add.reduceat(tl, loc)
            np.add(ones[d0:d1, bit], part, out=ones[d0:d1, bit])
    # --- band folding, vectorized across docs ----------------------------
    bands = np.empty((n_docs, cfg.lsh_bands), dtype=np.int64)
    for i in range(cfg.lsh_bands):
        acc = sig[:, i * cfg.lsh_rows].copy()
        for c in range(1, cfg.lsh_rows):
            acc = (acc * _BAND_MULT + sig[:, i * cfg.lsh_rows + c]) % MERSENNE_31
        bands[:, i] = acc
    maj = (2 * ones > lengths[:, None]).astype(np.int64)
    sim = (maj << np.arange(cfg.simhash_bits)[None, :]).sum(axis=1)
    return sig, bands, sim


# The signature families with_signatures dispatches; run_pipeline checks a
# family name against this tuple before it runs any stage.
FAMILIES = ("md5", "poly", "datasketch")


def _check_family(family: str) -> None:
    if family not in FAMILIES:
        *rest, last = map(repr, FAMILIES)
        raise ValueError(
            f"unknown signature family {family!r}: "
            f"expected {', '.join(rest)} or {last}"
        )


def with_signatures(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    family: str = "md5",
) -> DataFrame:
    """docs(doc_id, text, ...) → (doc_id, content_hash, sig, bands, simhash).

    Arrow-batched; each task processes its partition independently — no
    shuffle, scales linearly with executors. family="md5" is the
    oracle-parity scheme; family="poly" is the vectorized production
    scheme (same signature structure, different shingle hash);
    family="datasketch" is the reference's MinHash scheme
    (operators/datasketch_compat.py), whose sig/bands are array<bigint>.
    """
    _check_family(family)
    if family == "datasketch":
        from quarrycore_spark.operators.datasketch_compat import (
            with_datasketch_signatures,
        )

        return with_datasketch_signatures(docs, cfg)
    a = np.array([p[0] for p in cfg.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in cfg.minhash_perms], dtype=np.int64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            with kernel_span("sig", n):
                texts = pdf["text"].astype(str).tolist()
                if family == "poly":
                    ch, sig_m, bands_m, sim = _batch_signatures_poly(texts, cfg, a, b)
                    sig = list(sig_m.astype(np.int32))
                    bands = list(bands_m.astype(np.int32))
                else:
                    ch = [None] * n
                    sig = [None] * n
                    bands = [None] * n
                    sim = np.empty(n, dtype=np.int64)
                    for j, text in enumerate(texts):
                        c, s, bd, sm = doc_signature(text, cfg, a, b, family)
                        ch[j], sig[j], bands[j], sim[j] = (
                            c, s.astype(np.int32), bd.astype(np.int32), sm,
                        )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "content_hash": ch,
                    "sig": sig,
                    "bands": bands,
                    "simhash": sim,
                }
            )

    return spread(docs.select("doc_id", "text")).mapInPandas(
        compute, schema=SIG_SCHEMA
    )
