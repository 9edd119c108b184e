"""Focused tests for the round-8 optimization internals: the batched
md5-prefix gram kernel (operators/md5grams.py) that replaced the Spark
side of the interpreted `transform(..., i -> md5(...))` SQL lambdas, and
the exact-preserving size-ratio prune inside trigram_jaccard_pairs'
self-join."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from quarrycore_spark.operators.md5grams import (
    md5_prefix60,
    window_hashes60,
    word_trigram_hashes60,
)

TRICKY = [
    "hello world this is a test of the md5 gram kernel with some text",
    "short",
    "",
    "exactly sixteen!",  # len == k boundary for k=16
    "cafés and naïve unicode ♞ text padded out to be long enough here",
    "a b c",  # exactly 3 words -> one trigram
    "a b",  # < 3 words -> whole-text rule
]


def _duck_norm(con, raw: str) -> str:
    return con.execute(
        "SELECT lower(trim(regexp_replace(?, '\\s+', ' ', 'g')))", [raw]
    ).fetchone()[0]


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


def test_md5_prefix60_matches_hex_int(con):
    # the dialect contract: ('0x' || substr(md5(x), 1, 15))::BIGINT
    for s in TRICKY:
        exp = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()[0]
        assert md5_prefix60(s.encode("utf-8")) == exp


def test_window_hashes_match_sql_formulation(con):
    for raw in TRICKY:
        nt = _duck_norm(con, raw)
        for k in (16, 14, 7):
            if len(nt) < k:
                exp = [
                    con.execute(
                        "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [nt]
                    ).fetchone()[0]
                ]
            else:
                exp = con.execute(
                    f"SELECT list_distinct(list_transform(range(0, len(?) - {k} + 1), "
                    f"i -> ('0x' || substr(md5(substr(?, i + 1, {k})), 1, 15))::BIGINT))",
                    [nt, nt],
                ).fetchone()[0]
            got = window_hashes60(nt, k)
            assert sorted(exp) == sorted(got.tolist()), (raw, k)
            assert got.dtype == np.int64


def test_trigram_hashes_match_sql_formulation(con):
    for raw in TRICKY:
        nt = _duck_norm(con, raw)
        ws = nt.split(" ")
        if len(ws) < 3:
            exp = [
                con.execute(
                    "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [nt]
                ).fetchone()[0]
            ]
        else:
            exp = con.execute(
                "SELECT list_distinct(list_transform("
                "range(1, len(string_split(?, ' ')) - 1), "
                "i -> ('0x' || substr(md5(array_to_string("
                "string_split(?, ' ')[i:i+2], ' ')), 1, 15))::BIGINT))",
                [nt, nt],
            ).fetchone()[0]
        got = word_trigram_hashes60(nt)
        assert sorted(exp) == sorted(got.tolist()), raw


def test_trigram_ratio_prune_keeps_boundary_pair(spark):
    """The size-ratio prune (drop join pairs with 100·min(n) < T·max(n))
    must keep the exact boundary: n_a=30, n_b=50 at T=60 gives
    100·30 == 60·50, and a prefix-contained doc pair at that size sits
    EXACTLY on the Jaccard threshold (30/50 = 0.6) — it must appear in
    the output with exact counts."""
    from quarrycore_spark.operators.textjaccard import trigram_jaccard_pairs

    words = [f"w{i}" for i in range(60)]
    a_text = " ".join(words[:32])  # 30 distinct trigrams
    b_text = " ".join(words[:52])  # 50 distinct trigrams, contains all of A's
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    rows = trigram_jaccard_pairs(docs, 60).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a_id"], r["b_id"]) == (1, 2)
    assert r["inter_cnt"] == 30 and r["union_cnt"] == 50


def test_trigram_ratio_prune_output_matches_unpruned_oracle(spark, con):
    """Seeded mixed corpus: the pruned Spark path must equal the
    unpruned all-pairs DuckDB formulation exactly."""
    from quarrycore_spark.operators.textjaccard import trigram_jaccard_pairs

    rng = np.random.default_rng(7)
    vocab = [f"t{i}" for i in range(40)]
    texts = []
    for i in range(30):
        n = int(rng.integers(4, 40))
        texts.append((i, " ".join(rng.choice(vocab, size=n))))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = sorted(
        (r["a_id"], r["b_id"], r["inter_cnt"], r["union_cnt"])
        for r in trigram_jaccard_pairs(docs, 60).collect()
    )
    con.execute("CREATE OR REPLACE TABLE _tj(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO _tj VALUES (?, ?)", texts)
    exp = sorted(
        tuple(r)
        for r in con.execute(
            """
WITH _docs AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt FROM _tj),
_w AS (SELECT doc_id, string_split(nt, ' ') AS ws, nt FROM _docs),
_t AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [('0x' || substr(md5(nt), 1, 15))::BIGINT]
       ELSE list_distinct(list_transform(range(1, len(ws) - 1),
            i -> ('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15))::BIGINT)) END AS tg FROM _w),
_sz AS (SELECT doc_id, len(tg) AS n_g FROM _t),
_gx AS (SELECT doc_id, unnest(tg) AS g FROM _t),
_cap AS (SELECT g FROM _gx GROUP BY g HAVING count(*) BETWEEN 2 AND 200),
_gk AS (SELECT x.doc_id, x.g FROM _gx x JOIN _cap c ON x.g = c.g),
_int AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter_cnt
         FROM _gk a JOIN _gk b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
SELECT i.a_id, i.b_id, i.inter_cnt, sa.n_g + sb.n_g - i.inter_cnt AS union_cnt
FROM _int i JOIN _sz sa ON sa.doc_id = i.a_id JOIN _sz sb ON sb.doc_id = i.b_id
WHERE 100 * i.inter_cnt >= 60 * (sa.n_g + sb.n_g - i.inter_cnt)
"""
        ).fetchall()
    )
    assert got == exp
