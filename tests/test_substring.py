"""Suffix-array LCS: equivalence vs difflib-style brute force, plus the
Spark substring_extents operator end-to-end."""

from __future__ import annotations

import random

import pytest

from quarrycore_spark.operators.substring import (
    gram_doc_pairs,
    longest_common_substring_len,
    substring_extents,
)


def brute_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


@pytest.mark.parametrize("seed", range(5))
def test_lcs_random_parity(seed):
    rng = random.Random(seed)
    alpha = "abcab "
    for _ in range(20):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(0, 60)))
        assert longest_common_substring_len(a, b) == brute_lcs(a, b), (a, b)


def test_lcs_containment():
    a = "the quick brown fox jumps over the lazy dog"
    b = "PREFIX " + a + " SUFFIX"
    assert longest_common_substring_len(a, b) == len(a)
    assert longest_common_substring_len("", "abc") == 0


def test_substring_extents_spark(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running far away " * 3
    rows = [
        (1, base),
        (2, base + " extra trailing content appended here beyond the shared part"),
        (3, "completely different text with no long overlap at all whatsoever xyz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = gram_doc_pairs(docs, 30)
    pairs = {(r.a_id, r.b_id) for r in cand.collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs

    ext = substring_extents(docs, cand, min_overlap=30).collect()
    assert len(ext) == 1
    row = ext[0]
    assert (row.a_id, row.b_id) == (1, 2)
    assert row.match_type == "contained_in"  # doc1 fully inside doc2
    assert row.lcs_len == row.len_a


@pytest.mark.parametrize("seed", range(5))
def test_lcs_extent_reproduces_substring(seed):
    """The reported (start_a, start_b, lcs_len) extent must be a REAL common
    substring of maximal length (reference fuzzy_matcher.py:213-236 returns
    the overlap's position, not just its size)."""
    from quarrycore_spark.operators.substring import lcs_extent_hashed

    rng = random.Random(100 + seed)
    alpha = "abcde "
    for _ in range(20):
        a = "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 80)))
        b = "".join(rng.choice(alpha) for _ in range(rng.randrange(1, 80)))
        n, sa, sb = lcs_extent_hashed(a, b, lo=1)
        assert n == brute_lcs(a, b), (a, b)
        if n > 0:
            assert a[sa : sa + n] == b[sb : sb + n], (a, b, n, sa, sb)


def test_substring_extent_columns_spark(spark):
    """Pipeline-visible extent columns: the containment pair's extent spans
    the contained doc and aligns with the contained_in label."""
    base = "the quick brown fox jumps over the lazy dog and keeps running far away " * 3
    rows = [
        (1, base),
        (2, "PREFIX BLOCK " + base + " extra trailing content appended here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = gram_doc_pairs(docs, 30)
    row = substring_extents(docs, cand, min_overlap=30).collect()[0]
    assert row.match_type == "contained_in"
    assert row.lcs_len == row.len_a  # whole doc 1 is the overlap
    assert row.start_a == 0
    nt2 = " ".join(rows[1][1].split()).strip().lower()
    nt1 = " ".join(rows[0][1].split()).strip().lower()
    assert nt2[row.start_b : row.start_b + row.lcs_len] == nt1


def _bucket_reference(grams_by_doc: dict, cap: int) -> dict:
    """Pure-Python candidate pairs: (a, b) -> number of gram buckets of
    2..cap members that both a < b belong to."""
    from collections import Counter
    from itertools import combinations

    buckets: dict[int, list[int]] = {}
    for doc_id, grams in grams_by_doc.items():
        for g in set(int(x) for x in grams):
            buckets.setdefault(g, []).append(doc_id)
    pairs: Counter = Counter()
    for members in buckets.values():
        if 2 <= len(members) <= cap:
            pairs.update(combinations(sorted(members), 2))
    return dict(pairs)


def _cap_boundary_docs(cap: int) -> list[tuple[int, str]]:
    """Docs 1..cap share one phrase (a bucket of exactly `cap` members),
    docs 11..11+cap share another (cap + 1 members, over the cap), and a
    few pairs share short runs; every doc also has unique filler."""
    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()

    def filler(n):
        return " ".join(rng.choice(words) + str(rng.randrange(1000)) for _ in range(n))

    at_cap = "the shared phrase held by exactly cap documents, no more and no less"
    over_cap = "an over-the-cap phrase that one document too many carries along here"
    # <id> marks fence the phrases, so no window across a phrase's edge is
    # shared by chance
    docs = [(i, f"{filler(8)} <{i}> {at_cap} <{i}> {filler(8)}") for i in range(1, cap + 1)]
    docs += [(i, f"{filler(8)} <{i}> {over_cap} <{i}> {filler(8)}") for i in range(11, 12 + cap)]
    pair_run = "a pairwise run of text shared by two docs only, long enough to match"
    docs += [(21, f"{filler(6)} <21> {pair_run}"), (22, f"{pair_run} <22> {filler(6)}")]
    docs += [(i, filler(20)) for i in range(30, 34)]
    return docs


@pytest.mark.parametrize("kind", ["gram", "winnow"])
def test_candidate_pairs_match_bucket_reference(spark, monkeypatch, kind):
    """winnow_doc_pairs / gram_doc_pairs equal a pure-Python bucket
    reference, with a bucket of exactly `cap` members (kept) and one of
    `cap + 1` members (dropped)."""
    from quarrycore_spark import config
    from quarrycore_spark.operators.md5grams import window_hashes60
    from quarrycore_spark.operators.signatures import normalize_text
    from quarrycore_spark.operators.substring import (
        winnow_doc_pairs,
        winnow_fingerprints,
    )

    cap, l_gram = 4, 30
    monkeypatch.setattr(config, "LSH_BUCKET_CAP", cap)
    rows = _cap_boundary_docs(cap)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    if kind == "gram":
        got_df = gram_doc_pairs(docs, l_gram)
        grams = {d: window_hashes60(normalize_text(t), l_gram) for d, t in rows}
    else:
        got_df = winnow_doc_pairs(docs, l_gram)
        k = max(l_gram // 2, 4)
        grams = {
            d: winnow_fingerprints(normalize_text(t), k, l_gram - k + 1)
            for d, t in rows
        }
    got = {(r.a_id, r.b_id): r.shared_grams for r in got_df.collect()}
    want = _bucket_reference(grams, cap)
    assert got == want
    assert (1, cap) in got  # the exactly-cap bucket is kept
    assert (11, 12) not in got  # the cap + 1 bucket is dropped
    assert (21, 22) in got


def test_substring_extents_batch_boundaries(spark):
    """Each pair's two ends may straddle an Arrow batch; the kernel carries
    them over, so 3-row batches give the default-batch output."""
    from itertools import combinations

    rng = random.Random(11)
    shared = "common core passage that every document in this set repeats verbatim"
    rows = [
        (i, " ".join(str(rng.randrange(10**6)) for _ in range(rng.randrange(3, 12)))
         + f" {shared} " + " ".join(str(rng.randrange(10**6)) for _ in range(5)))
        for i in range(1, 12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        list(combinations(range(1, 12), 2)), "a_id long, b_id long"
    )

    def extents():
        return sorted(map(tuple, substring_extents(docs, cand, min_overlap=30).collect()))

    default = extents()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        small = extents()
    finally:
        spark.conf.set(key, old)
    assert len(default) == 55
    assert small == default


def test_substring_ops_read_named_columns(spark):
    """winnow_doc_pairs and substring_extents read the id and text columns
    they are given."""
    from pyspark.sql import functions as F

    from quarrycore_spark.operators.substring import winnow_doc_pairs

    base = "the quick brown fox jumps over the lazy dog and keeps running far away " * 3
    rows = [
        (1, base),
        (2, "PREFIX " + base + " extra trailing content appended beyond the shared part"),
        (3, "completely different text with no long overlap at all whatsoever xyz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    named = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("body"))

    def run(frame, **cols):
        cand = winnow_doc_pairs(frame, 30, **cols)
        ext = substring_extents(frame, cand, 30, **cols)
        return sorted(map(tuple, cand.collect())), sorted(map(tuple, ext.collect()))

    default = run(docs)
    assert [p[:2] for p in default[0]] == [(1, 2)] and len(default[1]) == 1
    assert run(named, id_col="id", text_col="body") == default
