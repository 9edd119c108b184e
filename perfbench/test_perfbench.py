"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root.
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, harness, reference  # noqa: E402
from perfbench.run import result_metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_crawl_corpus_and_reference_follow_the_seed():
    a = corpus.crawl_pages("unique", 600, seed=5)
    b = corpus.crawl_pages("unique", 600, seed=5)
    c = corpus.crawl_pages("unique", 600, seed=6)
    assert _bytes(corpus.pages_table(a)) == _bytes(corpus.pages_table(b))
    assert _bytes(corpus.pages_table(a)) != _bytes(corpus.pages_table(c))
    ra, rb, rc = (reference.crawl_reference(p) for p in (a, b, c))
    assert ra and ra == rb
    assert {(a[i].url, a[j].url) for i, j in ra} != {(c[i].url, c[j].url) for i, j in rc}
    assert reference.negative_pairs(a) == reference.negative_pairs(b)


def test_crawl_reference_pairs_are_planted_duplicates():
    pages = corpus.crawl_pages("unique", 600, seed=9)
    for i, j in reference.crawl_reference(pages):
        assert pages[i].content_key == pages[j].content_key or (
            pages[i].population == pages[j].population == "near" and pages[i].group == pages[j].group
        ), (pages[i].population, pages[j].population)
    for i, j in reference.negative_pairs(pages):
        assert pages[i].content_key != pages[j].content_key


def test_stream_epochs_follow_the_seed():
    a = corpus.stream_epochs(4, 50, seed=3)
    b = corpus.stream_epochs(4, 50, seed=3)
    c = corpus.stream_epochs(4, 50, seed=4)
    same = [_bytes(corpus.pages_table(x)) == _bytes(corpus.pages_table(y)) for x, y in zip(a, b)]
    assert all(same)
    assert _bytes(corpus.pages_table(a[0])) != _bytes(corpus.pages_table(c[0]))
    want = reference.stream_expected(a)
    assert want == reference.stream_expected(b) and want != reference.stream_expected(c)
    # re-crawls of earlier epochs are never expected again
    assert all(len(w) < len(e) for w, e in zip(want[1:], a[1:]))


def test_registry_tables_follow_the_seed():
    d1, e1 = corpus.registry_tables(100, 80, seed=1)
    d2, e2 = corpus.registry_tables(100, 80, seed=1)
    d3, e3 = corpus.registry_tables(100, 80, seed=2)
    assert _bytes(d1) == _bytes(d2) and _bytes(e1) == _bytes(e2)
    assert _bytes(d1) != _bytes(d3) and _bytes(e1) != _bytes(e3)


def test_tail_percentile():
    assert harness.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    v, pct, n = harness.tail([float(i) for i in range(40)])
    assert (v, n) == (29.0, 40) and pct == 75.0  # ten samples above 29


def test_every_metric_prints_with_name_and_unit():
    for kind, per_layer in (("end_to_end", False), ("per_layer", True)):
        declared = SPEC[kind]
        measured = {m["name"]: (1.5, m["unit"]) for m in declared}
        out = result_metrics(declared, measured, per_layer)
        assert list(out) == [m["name"] for m in declared]
        for m in declared:
            assert out[m["name"]] == {"value": 1.5, "unit": m["unit"]}
    # a layer the workload does not reach reports 0; e2e metrics may not be missing
    assert result_metrics(SPEC["per_layer"], {}, True)["cc.wall_s"] == {"value": 0.0, "unit": "s"}
    with pytest.raises(RuntimeError):
        result_metrics(SPEC["end_to_end"], {}, False)
    with pytest.raises(RuntimeError):
        result_metrics(SPEC["end_to_end"][:1], {"docs_per_s": (1.0, "ms")}, False)
    with pytest.raises(RuntimeError):
        result_metrics([], {"stray": (1.0, "s")}, False)


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [w["name"] for w in SPEC["workloads"]] + [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in SPEC["workloads"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and unit.match(m["unit"]) and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl-unique", "--seed", "1", "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0 and r.stdout.strip() == ""
