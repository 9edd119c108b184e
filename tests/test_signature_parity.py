"""The Arrow signature operator must be bit-identical to the SQL dialect
math used by the DuckDB oracle — this is the contract that makes the
production path and the correctness gate the same computation."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.functions import dialect as D
from quarrycore_spark.operators.signatures import (
    char_shingles,
    doc_signature,
    normalize_text,
)

EDGE_TEXTS = [
    "Hello   World  foo bar baz quux longer text here",
    "short",
    "",
    "\t\n  spaced \t out \n",
    "ünïcode tëxt with  spaces and more padding here",
    "a" * 6,
    "exactly7",
    "The quick brown fox jumps over the lazy dog. " * 5,
]


@pytest.fixture(scope="module")
def corpus_texts():
    con = duckdb.connect()
    rows = con.sql(
        "select text from '/root/testdata/sf0.001/documents.parquet' limit 50"
    ).fetchall()
    return [r[0] for r in rows]


def duck_signature(text: str):
    con = duckdb.connect()
    d = "duckdb"
    nt = D.norm_text("t", d)
    sql = f"""
    WITH _n AS (SELECT ? AS t), _d AS (SELECT {nt} AS nt FROM _n),
    _s AS (SELECT nt, {D.char_shingles('nt', CFG.shingle_size, d)} AS sh FROM _d),
    _h AS (SELECT nt, {D.shingle_hashes31('sh', d)} AS hs,
                      {D.shingle_hashes60('sh', d)} AS h60s FROM _s)
    SELECT nt, {D.content_hash('nt', d)} AS ch,
           {D.minhash_array('hs', CFG, d)} AS sig,
           {D.band_hash_array('hs', CFG, d)} AS bands,
           {D.simhash('h60s', CFG, d)} AS simhash
    FROM _h
    """
    return con.execute(sql, [text]).fetchone()


@pytest.mark.parametrize("text", EDGE_TEXTS)
def test_edge_text_parity(text):
    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    nt_sql, ch_sql, sig_sql, bands_sql, sim_sql = duck_signature(text)
    assert normalize_text(text) == nt_sql
    ch, sig, bands, sim = doc_signature(text, CFG, a, b)
    assert ch == ch_sql
    assert sig.tolist() == sig_sql
    assert bands.tolist() == bands_sql
    assert sim == sim_sql


def test_corpus_sample_parity(corpus_texts):
    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    for text in corpus_texts:
        ch, sig, bands, sim = doc_signature(text, CFG, a, b)
        _, ch_sql, sig_sql, bands_sql, sim_sql = duck_signature(text)
        assert (ch, sig.tolist(), bands.tolist(), sim) == (
            ch_sql,
            sig_sql,
            bands_sql,
            sim_sql,
        )


def test_poly_family_properties():
    """The vectorized pipeline family: deterministic, near-dup-sensitive."""
    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    base = "the quick brown fox jumps over the lazy dog " * 20
    near = base.replace("lazy", "hazy", 3)
    diff = "completely unrelated content with other words entirely " * 20
    ch1, s1, bd1, sm1 = doc_signature(base, CFG, a, b, family="poly")
    ch2, s2, _, _ = doc_signature(base, CFG, a, b, family="poly")
    assert (s1 == s2).all() and ch1 == ch2  # deterministic
    _, sn, _, smn = doc_signature(near, CFG, a, b, family="poly")
    _, sd, _, smd = doc_signature(diff, CFG, a, b, family="poly")
    agree_near = (s1 == sn).mean()
    agree_diff = (s1 == sd).mean()
    assert agree_near > 0.8 > agree_diff, (agree_near, agree_diff)
    ham_near = bin(sm1 ^ smn).count("1")
    ham_diff = bin(sm1 ^ smd).count("1")
    assert ham_near < 15 <= ham_diff, (ham_near, ham_diff)
    # content hash identical across families (sha256 of normalized text)
    ch_md5, *_ = doc_signature(base, CFG, a, b, family="md5")
    assert ch1 == ch_md5
    # short/empty text degenerates cleanly
    for t in ("", "ab", "exactly"):
        doc_signature(t, CFG, a, b, family="poly")


def test_shingles_short_text_rule():
    assert char_shingles("abc", 7) == ["abc"]
    assert char_shingles("", 7) == [""]
    assert char_shingles("exactly", 7) == ["exactly"]
    assert char_shingles("exactly7", 7) == ["exactly", "xactly7"]


def test_batch_vs_per_doc_poly_parity():
    """_batch_signatures_poly must be bit-identical to per-doc
    doc_signature(family='poly') — sig, bands, simhash, content hash —
    including degenerate docs and the sub-batch chunking path."""
    from quarrycore_spark.operators.signatures import _batch_signatures_poly

    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    rng = np.random.RandomState(3)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    texts = [
        " ".join(rng.choice(words, size=rng.randint(1, 200)).tolist())
        for _ in range(40)
    ]
    texts += ["", "ab", "exactly", "  spaces   and\ttabs \n newlines  "]
    ch_b, sig_b, bands_b, sim_b = _batch_signatures_poly(texts, CFG, a, b)
    for j, t in enumerate(texts):
        ch, sig, bands, sim = doc_signature(t, CFG, a, b, family="poly")
        assert ch == ch_b[j], j
        assert (sig == sig_b[j]).all(), j
        assert (bands == bands_b[j]).all(), j
        assert sim == sim_b[j], (j, sim, sim_b[j])
    # worker-lifetime scratch buffers must not leak state across calls
    ch_2, sig_2, bands_2, sim_2 = _batch_signatures_poly(texts, CFG, a, b)
    assert ch_2 == ch_b and (sig_2 == sig_b).all()
    assert (bands_2 == bands_b).all() and (sim_2 == sim_b).all()


def test_batch_poly_parity_property():
    """Property test: arbitrary unicode (astral chars, whitespace runs,
    combining marks, exact-k-boundary lengths) — the batched prep must be
    bit-identical to the per-doc path for every generated corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from quarrycore_spark.operators.signatures import _batch_signatures_poly

    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-32-le", categories=("L", "N", "P", "Z", "M", "S")
                ),
                min_size=0,
                max_size=40,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def check(texts):
        ch_b, sig_b, bands_b, sim_b = _batch_signatures_poly(texts, CFG, a, b)
        for j, t in enumerate(texts):
            ch, sig, bands, sim = doc_signature(t, CFG, a, b, family="poly")
            assert ch == ch_b[j]
            assert (sig == sig_b[j]).all()
            assert (bands == bands_b[j]).all()
            assert sim == sim_b[j]

    check()


def test_batch_poly_parity_across_chunk_budget():
    """Same parity with docs big enough to cross BOTH the 1M-codepoint
    sub-batch budget (doc-range chunking) and many _CHUNK_ELEMS blocks
    inside the batched rolling hash — boundary windows must still hash
    with their own doc's codepoints."""
    from quarrycore_spark.operators.signatures import _batch_signatures_poly

    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    rng = np.random.RandomState(7)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    texts = [
        " ".join(rng.choice(words, size=9000).tolist())  # ~54k chars each
        for _ in range(24)
    ]
    texts.insert(7, "tiny")  # a short doc wedged between giants
    texts.insert(19, "")
    ch_b, sig_b, bands_b, sim_b = _batch_signatures_poly(texts, CFG, a, b)
    for j in (0, 7, 8, 19, 20, len(texts) - 1):
        ch, sig, bands, sim = doc_signature(texts[j], CFG, a, b, family="poly")
        assert ch == ch_b[j], j
        assert (sig == sig_b[j]).all(), j
        assert (bands == bands_b[j]).all(), j
        assert sim == sim_b[j], j


# empty, whitespace-only, shorter than k, exactly k (k = 15, 30 chars and
# 3 words), ASCII separators \x1c-\x1f, NBSP, U+2028, U+3000, a combining
# mark and an astral code point
HOSTILE_TEXTS = [
    "",
    " \t\n\r\x0b\x0c  ",
    "short",
    "a" * 15,
    "b" * 30,
    "one two three",
    "unit\x1cgroup\x1drecord\x1eunit\x1f separators between the words here",
    "no\u00a0break\u00a0space keeps its place in a line of sample text",
    "line\u2028separator and\u3000ideographic space in one mixed document",
    "cafe\u0301 combining marks de\u0301ja\u0300 vu in the running text body",
    "astral \U0001d518\U0001f600 code points outside the basic plane ok",
    "The Quick  Brown Fox\tjumps over the lazy dog and keeps on running " * 3,
]


@pytest.mark.parametrize("kernel", ["window30", "trigram", "winnow15x16"])
def test_doc_hashes_hostile_text(spark, kernel):
    """doc_hashes gives each doc the per-doc Python hashes of its
    normalized text, over hostile characters and 2-row Arrow batches."""
    from functools import partial

    from quarrycore_spark.operators.md5grams import (
        window_hashes60,
        word_trigram_hashes60,
    )
    from quarrycore_spark.operators.signatures import doc_hashes
    from quarrycore_spark.operators.substring import winnow_fingerprints

    hashes = {
        "window30": partial(window_hashes60, k=30),
        "trigram": word_trigram_hashes60,
        "winnow15x16": partial(winnow_fingerprints, k=15, w=16),
    }[kernel]
    docs = spark.createDataFrame(
        list(enumerate(HOSTILE_TEXTS)), "doc_id long, text string"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = {r.doc_id: list(r.gs) for r in doc_hashes(docs, hashes).collect()}
    finally:
        spark.conf.set(key, old)
    want = {
        i: hashes(normalize_text(t)).astype(np.int64).tolist()
        for i, t in enumerate(HOSTILE_TEXTS)
    }
    assert got == want


def test_with_signatures_rejects_unknown_family(spark):
    from quarrycore_spark.operators.signatures import with_signatures

    docs = spark.createDataFrame([(1, "text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="'md5', 'poly' or 'datasketch'"):
        with_signatures(docs, CFG, family="Poly")
