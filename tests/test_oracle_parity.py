"""Mini-verify harness: mirrors the driver's correctness gate.

For every registered query, run the Spark plan and the DuckDB oracle at
sf=0.01 and compare row count, column names, and order-insensitive values.
This is the same comparison the driver performs for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from quarrycore_spark.plans.registry import REGISTRY
from tests.conftest import SF_CORRECT

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c] if isinstance(r, dict) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0 or (isinstance(v, float) and math.isnan(v)):
                    v = None if math.isnan(v) else 0.0
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def compare_query(spark, name: str, sf_dir: str = SF_CORRECT):
    q = REGISTRY[name]
    oracle = q.oracle()
    sdf = q.run_spark(spark, sf_dir)
    cols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]
    s_norm = normalize(srows, cols)
    if oracle is None:
        assert len(s_norm) >= 0  # rows-only check
        return len(s_norm)
    con = duck_con(sf_dir)
    dres = con.sql(oracle)
    dcols = sorted(dres.columns)
    assert cols == dcols, f"{name}: column mismatch spark={cols} duck={dcols}"
    drows = [dict(zip(dres.columns, row)) for row in dres.fetchall()]
    d_norm = normalize(drows, dcols)
    assert len(s_norm) == len(d_norm), (
        f"{name}: row count spark={len(s_norm)} duck={len(d_norm)}"
    )
    mism = [i for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={s_norm[mism[0]]} duck={d_norm[mism[0]]}"
    )
    return len(s_norm)


@pytest.mark.parametrize("name", sorted(REGISTRY.keys()))
def test_oracle_parity(spark, name):
    n = compare_query(spark, name)
    print(f"{name}: {n} rows OK")


def test_exact_dup_pairs_nonvacuous_at_sf01(spark):
    """The sf0.01 documents table happens to contain no exact duplicates,
    so the driver's exact_dup_pairs check is vacuously green there; sf0.1
    DOES contain duplicated texts — assert the pair query actually fires
    and stays oracle-equal on that data."""
    n = compare_query(spark, "exact_dup_pairs", "/root/testdata/sf0.1")
    assert n > 0


def test_exact_dup_pairs_synth_nonvacuous_at_sf001(spark):
    """The dup-injected variant must fire on the DRIVER's scale too:
    at sf0.01 (500 docs) the doc_id%10<2 selector reaches only classes
    0 and 1 of doc_id%5, i.e. 2 classes x C(50,2) = 2,450 pairs
    (registry.py exact_dup_pairs_synth)."""
    n = compare_query(spark, "exact_dup_pairs_synth")
    assert n > 0


def test_near_dup_recall_gate_on_driver_surface(spark):
    """VERDICT r5 #7: the >=0.99 recall gate as a driver-visible query.
    Every injected 3-char-suffix copy must be re-found by the full
    LSH+verify path at the 0.85 threshold, oracle-equal at both the
    driver's sf0.01 and the smoke sf0.001."""
    from quarrycore_spark.plans.registry import REGISTRY

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n = compare_query(spark, "near_dup_recall_synth", sf)
        rows = REGISTRY["near_dup_recall_synth"].run_spark(spark, sf).collect()
        assert n == len(rows) > 0
        recall = sum(r["verified"] for r in rows) / len(rows)
        assert recall >= 0.99, (sf, recall)


def test_simhash_recall_gate_on_driver_surface(spark):
    """VERDICT r6 #3: SimHash blocking recall as a driver-visible query.
    The pigeonhole guarantee (4 bands x 15 bits) means the banded path
    must re-find an injected pair EXACTLY when its true Hamming <= 3 —
    found must equal (true_ham <= hamming_max) for every injected pair."""
    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.plans.registry import REGISTRY

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n = compare_query(spark, "simhash_recall_synth", sf)
        rows = REGISTRY["simhash_recall_synth"].run_spark(spark, sf).collect()
        assert n == len(rows) > 0
        for r in rows:
            assert r["found"] == int(r["true_ham"] <= CFG.hamming_max), r
        # the 1-char edit keeps most pairs within threshold — the gate is
        # non-vacuous (some pairs actually flow through the banded join)
        assert sum(r["found"] for r in rows) / len(rows) >= 0.8, sf


def test_substring_recall_gate_on_driver_surface(spark):
    """VERDICT r6 #3: containment recall as a driver-visible query. Every
    injected 160-char-slice copy must be re-found by the L-gram path with
    a full complement of shared grams."""
    from quarrycore_spark.plans.registry import REGISTRY

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n = compare_query(spark, "substring_recall_synth", sf)
        rows = REGISTRY["substring_recall_synth"].run_spark(spark, sf).collect()
        assert n == len(rows) > 0
        assert all(r["found"] == 1 for r in rows), sf
        assert min(r["shared_grams"] for r in rows) >= 1


def test_release_discipline_storage_stable(spark):
    """Three consecutive full dedup-registry runs with release between them
    leave zero persisted RDDs — no storage leak in a long-lived session."""
    from quarrycore_spark.operators._cache import release_tracked
    from quarrycore_spark.plans.registry import REGISTRY

    def persisted_count():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # other tests in the session may hold localCheckpoint RDDs; what must
    # stay flat is the DELTA added by repeated registry runs
    release_tracked(spark)
    baseline = persisted_count()
    for _ in range(3):
        for name in ("minhash_verified_pairs", "simhash_pairs", "dedup_labels"):
            REGISTRY[name].run_spark(spark, SF_CORRECT).count()
        assert persisted_count() > baseline  # the run does persist
        released = release_tracked(spark)
        assert released >= 1
        assert persisted_count() == baseline, "persisted RDDs leaked after release"


def test_registry_determinism_and_clean_bad_path(spark):
    """Driver-contract robustness probes (the /verify recipe's 'probes
    worth repeating', made permanent): (a) a pair-producing query run
    twice returns identical sorted rows — shuffles, window tie-breaks and
    bucket caps are all deterministic; (b) a nonexistent sf dir fails with
    a clean AnalysisException instead of hanging or returning empty."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    q = REGISTRY["simhash_pairs"]
    a = sorted(map(str, q.run_spark(spark, SF_CORRECT).collect()))
    b = sorted(map(str, q.run_spark(spark, SF_CORRECT).collect()))
    assert a == b and len(a) > 0
    with _pytest.raises(AnalysisException):
        REGISTRY["token_counts"].run_spark(spark, "/no/such/sf_dir").count()
