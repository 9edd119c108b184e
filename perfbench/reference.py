"""Expected outputs, computed on the benchmark side, outside every timed
window and outside setup_s.

* crawl: the dup-pair set of an arrival-order reference simulator (exact
  layer first-writer-wins, then MinHash-LSH query-before-insert with
  signature-agreement verify) with the program's own shingle, permutation
  and band config; the semantics of tests/test_pipeline.py's
  simulate_reference. Plus the planted negative pairs.
* stream: the first-per-content set of every epoch.
* registry: each query's DuckDB oracle, normalised like
  tests/test_oracle_parity.py.
"""

from __future__ import annotations

import math

import numpy as np

from perfbench.corpus import Page


def crawl_reference(pages: list[Page]) -> list[tuple[int, int]]:
    """Dup pairs (earlier index, later index) the reference semantics
    find. The exact layer keys on the construction-time content key
    (pages with equal canonical content share it); the near-dup layer
    hashes the ground-truth extracted text."""
    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.operators.signatures import doc_signature

    a = np.array([p[0] for p in CFG.minhash_perms], dtype=np.int64)
    b = np.array([p[1] for p in CFG.minhash_perms], dtype=np.int64)
    order = sorted(range(len(pages)), key=lambda i: (pages[i].warc_ts, pages[i].url))
    first: dict[int, int] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    sigs: dict[int, np.ndarray] = {}
    pairs = []
    need = CFG.num_perm * CFG.jaccard_threshold_pct
    for i in order:
        key = pages[i].content_key
        if key in first:
            pairs.append((first[key], i))
            continue
        first[key] = i
        _, sig, bands, _ = doc_signature(pages[i].text, CFG, a, b, family="poly")
        cands = set()
        for bi, bh in enumerate(bands):
            cands.update(buckets.get((bi, int(bh)), ()))
        for j in cands:
            if int((sigs[j] == sig).sum()) * 100 >= need:
                pairs.append((j, i))
        sigs[i] = sig
        for bi, bh in enumerate(bands):
            buckets.setdefault((bi, int(bh)), []).append(i)
    return pairs


def negative_pairs(pages: list[Page]) -> list[tuple[int, int]]:
    """Planted negatives: every borderline pair, and consecutive unique
    pages in arrival order. None of them may share a cluster."""
    groups: dict[int, list[int]] = {}
    uniques = []
    for i, p in enumerate(pages):
        if p.population == "borderline":
            groups.setdefault(p.group, []).append(i)
        elif p.population == "unique":
            uniques.append(i)
    out = [tuple(g) for g in groups.values() if len(g) == 2]
    out += list(zip(uniques[:-1], uniques[1:]))
    return out


def stream_expected(epochs: list[list[Page]]) -> list[set[str]]:
    """Per epoch, the urls cross-batch exact dedup must emit: the first
    page (by warc_ts, url) of every content not seen in an earlier epoch."""
    seen: set[int] = set()
    out = []
    for batch in epochs:
        urls = set()
        for p in sorted(batch, key=lambda p: (p.warc_ts, p.url)):
            if p.content_key not in seen:
                seen.add(p.content_key)
                urls.add(p.url)
        out.append(urls)
    return out


def normalize(rows: list[tuple], cols: list[str], order: list[str]) -> list[tuple]:
    """Order-insensitive row form: columns sorted by name, values as
    strings, floats rounded to 6 places (tests/test_oracle_parity.py)."""
    idx = [cols.index(c) for c in order]
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def registry_oracle(sf_dir: str, queries: list[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """{query: (sorted column names, normalised rows)} from DuckDB."""
    import duckdb

    from quarrycore_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for q in queries:
        res = con.sql(REGISTRY[q].oracle())
        cols = list(res.columns)
        order = sorted(cols)
        out[q] = (order, normalize(res.fetchall(), cols, order))
    con.close()
    return out
