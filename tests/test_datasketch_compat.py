"""Properties of the datasketch-compatible signature family: determinism,
unbiased Jaccard estimation at the contract config (shingle=7, perm=128,
seed=1), and the S-curve-optimal banding for threshold 0.85."""

from __future__ import annotations

import random

import numpy as np
import pytest

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.operators.datasketch_compat import (
    estimate_jaccard,
    minhash_signature,
    optimal_param,
    permutations,
    sha1_hash32,
)
from quarrycore_spark.operators.signatures import char_shingles, normalize_text


def test_sha1_hash32_known_values():
    # deterministic, matches hashlib-derived expectation
    import hashlib
    import struct

    for token in [b"", b"abc", "ünïcode".encode()]:
        exp = struct.unpack("<I", hashlib.sha1(token).digest()[:4])[0]
        assert sha1_hash32(token) == exp


def test_signature_deterministic_and_order_insensitive():
    a, b = permutations(128)
    s1 = minhash_signature(["abcdefg", "bcdefgh", "cdefghi"], a, b)
    s2 = minhash_signature(["cdefghi", "abcdefg", "bcdefgh"], a, b)
    assert (s1 == s2).all()
    assert s1.dtype == np.int64 and len(s1) == 128


@pytest.mark.parametrize("true_j", [0.3, 0.6, 0.9])
def test_jaccard_estimation_unbiased(true_j):
    """Signature-Jaccard must track true Jaccard within ~4/sqrt(128)."""
    rng = random.Random(0)
    universe = [f"shingle-{i}" for i in range(2000)]
    inter = int(1000 * true_j / (1 + (1 - true_j)))  # |A∩B| for |A|=|B|=1000?
    # build sets with an exact target Jaccard: |A|=|B|=n, overlap o
    # J = o / (2n - o)  →  o = 2nJ/(1+J)
    n = 800
    o = round(2 * n * true_j / (1 + true_j))
    shared = universe[:o]
    only_a = universe[o : o + (n - o)]
    only_b = universe[o + (n - o) : o + 2 * (n - o)]
    A, B = shared + only_a, shared + only_b
    exact_j = o / (2 * n - o)
    a, b = permutations(128)
    est = estimate_jaccard(minhash_signature(A, a, b), minhash_signature(B, a, b))
    assert abs(est - exact_j) < 4 / np.sqrt(128), (est, exact_j)


def test_optimal_param_matches_config():
    """The integration-derived (b, r) for threshold 0.85 / 128 perms must be
    the banding the engine uses (DedupConfig.lsh_bands/lsh_rows) — this pins
    candidate-set parity with a datasketch-configured reference."""
    b, r = optimal_param(CFG.jaccard_threshold_pct / 100, CFG.num_perm)
    assert (b, r) == (CFG.lsh_bands, CFG.lsh_rows), (b, r)


def test_spark_datasketch_signatures(spark):
    from quarrycore_spark.operators.datasketch_compat import (
        with_datasketch_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "a completely different document body here")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: np.array(r["sig"]) for r in with_datasketch_signatures(docs, CFG).collect()}
    assert (rows[1] == rows[2]).all()
    assert not (rows[1] == rows[3]).all()
    # python-side reference equality
    a, b = permutations(128)
    exp = minhash_signature(
        char_shingles(normalize_text("a completely different document body here"), 7), a, b
    )
    assert (rows[3] == exp).all()
