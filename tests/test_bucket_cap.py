"""The one bucket-cap rule (operators/lsh.py `capped`): exact rows kept at
the 1 / 2 / cap / cap + 1 boundaries, and the plan shape the capped joins
rely on — one wide shuffle on the bucket key."""

from __future__ import annotations

import re

import pytest


def _sizes_frame(spark, cap: int):
    """(a, b, k, m) rows in buckets of 1, 2, cap and cap + 1 members,
    keyed either on (a, b) or on the single column k = 10·a + b. Keyed on
    `a` alone the buckets would hold 3 and 2·cap + 1 members instead."""
    sizes = {(1, 1): 1, (1, 2): 2, (2, 1): cap, (2, 2): cap + 1}
    rows = [
        (a, b, 10 * a + b, 100 * a + 10 * b + m)
        for (a, b), n in sizes.items() for m in range(n)
    ]
    return spark.createDataFrame(rows, "a long, b long, k long, m long"), rows


@pytest.mark.parametrize("keys", [["a", "b"], "k"])
def test_capped_keeps_exactly_the_2_to_cap_buckets(spark, keys):
    """The 2- and cap-member buckets stay, whole; the 1- and cap + 1-member
    buckets go, over two key columns and over one."""
    from quarrycore_spark.operators.lsh import capped

    cap = 4
    df, rows = _sizes_frame(spark, cap)
    out = capped(df, keys, "m", cap)
    assert out.columns == ["a", "b", "k", "m"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == sorted(r for r in rows if (r[0], r[1]) in {(1, 2), (2, 1)})
    assert len(got) == 2 + cap


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    return plan.split("== Initial Plan ==")[0]


def _nodes(plan: str, prefix: str) -> list[str]:
    """Plan nodes whose text, without tree markers and codegen stage ids,
    starts with `prefix`."""
    nodes = (re.sub(r"^[\s:+-]*(\*\(\d+\) )?", "", ln) for ln in plan.splitlines())
    return [n for n in nodes if n.startswith(prefix)]


def test_capped_joins_shuffle_bucket_rows_once(spark):
    """After an action, the final adaptive plan of `candidate_pairs` holds
    ONE bucket-key exchange, reused by the other join side, and the cap
    window's two sorts only; `_capped_bucket_pairs` has one sort under
    its two windows (the cap count and the running doc list)."""
    from quarrycore_spark.operators.lsh import candidate_pairs
    from quarrycore_spark.operators.substring import _capped_bucket_pairs

    rows = [(i, [(i // 3) * 10 + b for b in range(8)]) for i in range(60)]
    sigs = spark.createDataFrame(rows, "doc_id long, bands array<int>")
    cp = candidate_pairs(sigs)
    assert len(cp.collect()) == 60  # 20 triples x 3 pairs, all 8 bands shared
    plan = _final_plan(cp)
    assert len(_nodes(plan, "Exchange hashpartitioning(bkey")) == 1
    reused = _nodes(plan, "ReusedExchange")
    assert len(reused) == 1 and "Exchange hashpartitioning(bkey" in reused[0]
    assert len(_nodes(plan, "Sort [bkey")) == 2

    grams = spark.createDataFrame([(i, i // 4) for i in range(40)], "doc_id long, g long")
    bp = _capped_bucket_pairs(grams)
    assert len(bp.collect()) == 10 * 6  # ten 4-doc buckets, C(4, 2) pairs each
    plan = _final_plan(bp)
    assert len(_nodes(plan, "Exchange hashpartitioning(g")) == 1
    assert len(_nodes(plan, "Window [")) == 2
    assert len(_nodes(plan, "Sort [")) == 1
