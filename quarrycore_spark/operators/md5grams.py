"""md5-prefix gram hashing — the per-document hash functions the md5-family
gram queries (doc_fingerprints, substring_pairs, trigram_jaccard_pairs)
run inside the one per-document Arrow kernel, ``signatures.doc_hashes``.

Semantics contract: every value equals the SQL dialect's
``hex_int(expr, 15)`` = ``cast(conv(substring(md5(expr), 1, 15), 16, 10)
as bigint)`` — the first 15 hex chars of the md5 digest as int64, i.e.
``int.from_bytes(digest[:8], 'big') >> 4``. The SQL formulation stays the
DuckDB oracle; this kernel replaces only the Spark side, where the
``transform(sequence(...), i -> md5(...))`` higher-order lambda is
interpreted per element (no codegen) and measured ~20× slower than
hashlib's C md5 over the same windows.

Distinctness: np.unique = array_distinct under set semantics (every
consumer aggregates or explodes, so element order never matters).
"""

from __future__ import annotations

import hashlib

import numpy as np

_FB = int.from_bytes
_MD5 = hashlib.md5


def md5_prefix60(data: bytes) -> int:
    """int64 value of the first 15 hex chars of md5(data)."""
    return _FB(_MD5(data).digest()[:8], "big") >> 4


def window_hashes60(nt: str, k: int) -> np.ndarray:
    """Distinct md5-prefix-60 hashes of every k-codepoint window of `nt`;
    the dialect's short-text rule (len < k → hash of the whole text)
    included. Matches ``hex_int(substring(nt, i+1, k), 15)`` exactly:
    Spark's substring counts codepoints, as does Python slicing."""
    n = len(nt)
    if n < k:
        return np.array([md5_prefix60(nt.encode("utf-8"))], dtype=np.int64)
    md5, fb = _MD5, _FB
    if nt.isascii():
        # one encode, zero-copy memoryview windows
        mv = memoryview(nt.encode("ascii"))
        vals = [
            fb(md5(mv[i : i + k]).digest()[:8], "big") >> 4
            for i in range(n - k + 1)
        ]
    else:
        vals = [
            fb(md5(nt[i : i + k].encode("utf-8")).digest()[:8], "big") >> 4
            for i in range(n - k + 1)
        ]
    return np.unique(np.array(vals, dtype=np.int64))


def word_trigram_hashes60(nt: str) -> np.ndarray:
    """Distinct md5-prefix-60 hashes of every word trigram of normalized
    text (words = single-space split), with the dialect's short rule
    (< 3 words → hash of the whole text). Matches
    ``hex_int(concat_ws(' ', slice(ws, i, 3)), 15)``."""
    ws = nt.split(" ")
    if len(ws) < 3:
        return np.array([md5_prefix60(nt.encode("utf-8"))], dtype=np.int64)
    md5, fb = _MD5, _FB
    vals = [
        fb(md5(" ".join(ws[i : i + 3]).encode("utf-8")).digest()[:8], "big") >> 4
        for i in range(len(ws) - 2)
    ]
    return np.unique(np.array(vals, dtype=np.int64))
