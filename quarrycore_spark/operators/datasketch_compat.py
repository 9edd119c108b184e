"""Bit-compatible reimplementation of the public datasketch MinHash/LSH
scheme the reference depends on (quarrycore pins datasketch via
requirements.txt; its RedisMinHashLSH builds `MinHash(num_perm=128)` and
`MinHashLSH(threshold=0.85)` — minhash_redis.py:186-202, 140-151).

This module exists for recall parity "under identical shingle/signature
config" (north rule): when the reference's signatures matter bit-for-bit,
use this family; the md5 family in signatures.py is the oracle-checkable
default. The algorithm reimplemented here is public (datasketch docs +
the MinHash literature):

* token hash: sha1, first 4 bytes little-endian (32-bit);
* universal hashing: (a*h + b) mod (2^61 - 1), masked to 32 bits;
* permutation constants from numpy RandomState(seed), a in [1, p),
  b in [0, p), drawn as datasketch does;
* LSH (b, r): minimize 0.5*FP + 0.5*FN via numerical integration of the
  S-curve (the datasketch `_optimal_param` objective).

The container has no datasketch package, so tests assert the documented
mathematical properties (determinism, unbiased Jaccard estimation,
S-curve-optimal banding) rather than byte equality with the library.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from quarrycore_spark.config import DS_MAX_HASH, DS_MERSENNE_61, DS_SEED, DedupConfig
from quarrycore_spark.operators._partitioning import spread
from quarrycore_spark.operators.lsh import _MAX_BANDS
from quarrycore_spark.operators.signatures import (
    char_shingles,
    normalize_text,
    poly_simhash,
)

_HASH_RANGE = 1 << 32


def sha1_hash32(data: bytes) -> int:
    """datasketch's default token hash: first 4 sha1 bytes, little-endian."""
    return struct.unpack("<I", hashlib.sha1(data).digest()[:4])[0]


def permutations(num_perm: int, seed: int = DS_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Draw (a, b) exactly the way datasketch's MinHash.__init__ does."""
    gen = np.random.RandomState(seed)
    a = np.array(
        [gen.randint(1, DS_MERSENNE_61, dtype=np.uint64) for _ in range(num_perm)],
        dtype=np.uint64,
    )
    b = np.array(
        [gen.randint(0, DS_MERSENNE_61, dtype=np.uint64) for _ in range(num_perm)],
        dtype=np.uint64,
    )
    return a, b


def signature_from_hashes(
    hashes, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """datasketch-scheme signature over already-hashed tokens (uint32
    values): slot i = min over tokens of ((a_i*h + b_i) mod 2^64) mod
    (2^61-1), masked to 32 bits. The mod-2^64 wrap is not a bug to paper
    over — datasketch computes in numpy uint64, where a*h (a < 2^61,
    h < 2^32) overflows, and bit-compatibility means reproducing exactly
    that arithmetic. Empty token sets keep the init value (max hash + 1).
    """
    num_perm = len(a)
    hv = np.full(num_perm, _HASH_RANGE, dtype=np.uint64)  # datasketch init
    for h in hashes:
        phv = np.bitwise_and(
            (a * np.uint64(h) + b) % np.uint64(DS_MERSENNE_61),
            np.uint64(DS_MAX_HASH),
        )
        hv = np.minimum(hv, phv)
    return hv.astype(np.int64)


def minhash_signature(
    shingles: list[str], a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """128-slot (or num_perm-slot) datasketch-scheme signature (uint32 range,
    stored int64). Empty shingle sets keep the init value (max hash + 1)."""
    return signature_from_hashes(
        (sha1_hash32(s.encode("utf-8")) for s in shingles), a, b
    )


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Signature Jaccard = fraction of equal slots (minhash_lsh.py:162-181)."""
    return float((sig_a == sig_b).mean())


def _integration(f, a: float, b: float, dx: float = 0.001) -> float:
    area = 0.0
    x = a
    while x < b:
        area += f(x + 0.5 * dx) * dx
        x += dx
    return area


def optimal_param(
    threshold: float,
    num_perm: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """datasketch's `_optimal_param` objective: choose (bands, rows) with
    bands*rows <= num_perm minimizing fp_weight·FP + fn_weight·FN where
    FP = ∫₀ᵗ P(candidate|s) ds and FN = ∫ₜ¹ (1 − P(candidate|s)) ds with
    P(candidate|s) = 1 − (1 − s^r)^b.  Reference context: the LSH index the
    quarrycore dedup layer builds derives (b, r) this way
    (minhash_lsh.py:68-72)."""
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        max_r = num_perm // b
        for r in range(1, max_r + 1):
            def proba(s, r=r, b=b):
                return 1 - (1 - s ** float(r)) ** float(b)

            fp = _integration(proba, 0.0, threshold)
            fn = _integration(lambda s: 1 - proba(s), threshold, 1.0)
            error = fp * fp_weight + fn * fn_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


# The pipeline stage shape. It matches signatures.SIG_SCHEMA's column
# CONTRACT (same names/order; the simhash stage is independent of the
# minhash scheme, so the ds family carries the poly-family simhash
# alongside its own sig/bands) but NOT its element types: ds signature
# values reach 2^32 and genuinely need array<bigint>, while the poly
# family packs into array<int>. A checkpoint written by one family is
# therefore NOT schema-identical under the other, so a resumed pipeline
# must not switch families: run_pipeline records the family in its
# manifest and refuses to resume under a different one.
DS_PIPELINE_SCHEMA = (
    "doc_id bigint, content_hash string, sig array<bigint>, "
    "bands array<bigint>, simhash bigint"
)

_BAND_MULT = 1000003
_M31 = (1 << 31) - 1


def band_hashes(sig: np.ndarray, n_bands: int, n_rows: int) -> np.ndarray:
    """Band hashes over a signature: order-sensitive polynomial fold of each
    r-slot slice mod the 31-bit Mersenne prime (the hash of datasketch's
    per-band byte-tuple keys, minhash_lsh.py bucket keys — any deterministic
    injective-enough fold yields the same candidate set)."""
    out = np.empty(n_bands, dtype=np.int64)
    for i in range(n_bands):
        acc = int(sig[i * n_rows]) % _M31
        for s in sig[i * n_rows + 1 : (i + 1) * n_rows]:
            acc = (acc * _BAND_MULT + int(s)) % _M31
        out[i] = acc
    return out


def with_datasketch_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """docs(doc_id, text, ...) → DS_PIPELINE_SCHEMA: Arrow-batched
    datasketch-scheme signatures (seed ``DS_SEED``) over the same
    normalized ``cfg.shingle_size``-char shingles as the default family.

    The banding is datasketch's S-curve optimum for
    ``cfg.jaccard_threshold_pct`` and ``cfg.num_perm`` (``optimal_param``),
    so the LSH operators (operators/lsh.py) consume the frame as they do
    signatures.with_signatures'; the (family-independent) poly SimHash
    rides along at ``cfg.simhash_bits``."""
    nb, nr = optimal_param(cfg.jaccard_threshold_pct / 100, cfg.num_perm)
    if nb > _MAX_BANDS:
        raise ValueError(
            f"{nb} bands break the fused LSH bucket-key injectivity "
            f"(operators/lsh.py _MAX_BANDS = {_MAX_BANDS})"
        )
    a, b = permutations(cfg.num_perm)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nts = [normalize_text(t) for t in pdf["text"].astype(str)]
            sigs = [
                minhash_signature(char_shingles(nt, cfg.shingle_size), a, b)
                for nt in nts
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "content_hash": [
                        hashlib.sha256(nt.encode("utf-8")).hexdigest() for nt in nts
                    ],
                    "sig": sigs,
                    "bands": [band_hashes(s, nb, nr) for s in sigs],
                    "simhash": pd.array(
                        [
                            poly_simhash(nt, cfg.shingle_size, cfg.simhash_bits)
                            for nt in nts
                        ],
                        dtype="int64",
                    ),
                }
            )

    return spread(docs.select("doc_id", "text")).mapInPandas(
        compute, schema=DS_PIPELINE_SCHEMA
    )
