"""Query registry: every oracle-checked operator, as paired
(Spark plan, DuckDB oracle SQL) generated from the shared dialect snippets.

This is the Spark-native expression of the reference's operator inventory
(SURVEY.md §2): each entry names the reference operator(s) it covers.
All checked outputs are integer/string-typed — no float crosses the
Spark↔DuckDB comparison boundary.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from quarrycore_spark.config import DEFAULT_CONFIG as CFG
from quarrycore_spark.config import LSH_BUCKET_CAP
from quarrycore_spark.functions import dialect as D
from quarrycore_spark.functions.dialect import DUCKDB, SPARK
from quarrycore_spark.operators._cache import memo, release_tracked, track
from quarrycore_spark.operators._partitioning import spread
from quarrycore_spark.plans import prelude as P
from quarrycore_spark.sources.tables import load


@dataclass
class Query:
    name: str
    doc: str
    sql: Callable[[str], str] | None = None  # dialect -> SQL text
    spark_fn: Callable[[SparkSession, str], DataFrame] | None = None
    tables: tuple = ("documents",)
    # Tables whose views run_spark re-registers repartitioned across the
    # cluster before it runs the SQL (a test table is ONE parquet file with
    # ONE row group, so a scan cannot split and a CPU-dense projection
    # runs on a single core; `spread` is a no-op once the scan already has
    # >= defaultParallelism splits, i.e. at any real corpus scale). Only
    # set on queries whose per-row work dwarfs the one-time ~MB-scale
    # exchange AND whose semantics are partition-insensitive (all registry
    # outputs are order-insensitive sets; window/sample rules key on column
    # values, never partition ids). The spread views stay registered: every
    # run_spark first re-registers its tables' plain scans through load().
    spread: tuple = ()

    def run_spark(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        from quarrycore_spark.session import ensure_py_files

        ensure_py_files(spark)
        dfs = load(spark, sf_dir, *self.tables)
        if self.spark_fn is not None:
            return self.spark_fn(spark, sf_dir)
        for t in self.spread:
            spread(dfs[t]).createOrReplaceTempView(t)
        return spark.sql(self.sql(SPARK))

    def oracle(self) -> str | None:
        return self.sql(DUCKDB) if self.sql is not None else None


REGISTRY: dict[str, Query] = {}


def register(q: Query) -> Query:
    REGISTRY[q.name] = q
    return q


# ---------------------------------------------------------------------------
# Stage 1 — exact dedup (reference: hash_db.py:136-234, hybrid_dedup.py:189-204)
# ---------------------------------------------------------------------------


def _exact_dedup(dialect: str) -> str:
    """Canonical-doc selection per content hash — the Spark-idiomatic form of
    the reference's INSERT-or-fail first-writer-wins rule (hash_db.py:81-105).
    Arrival order is replaced by deterministic min(doc_id)."""
    return f"""
WITH {P.doc_norm(dialect, CFG)}
SELECT content_hash,
       min(doc_id) AS canonical_id,
       count(*) AS group_size
FROM _docs
GROUP BY content_hash
"""


register(Query("exact_dedup", "D1+D2: content hash + canonical selection", _exact_dedup))


def _exact_dup_pairs(dialect: str) -> str:
    """All (a,b) doc pairs sharing a content hash (a<b) — the clique form.

    ORACLE-ONLY definition: the clique is quadratic in group size (a 10⁶-copy
    boilerplate group would emit 5·10¹¹ rows), so nothing downstream consumes
    it — the pipeline and the CC edge graph use the O(n)-per-group star form
    (member → min(doc_id), see `_edges_sql`/`dedup_edges`)."""
    return f"""
WITH {P.doc_norm(dialect, CFG)}
SELECT a.doc_id AS a_id, b.doc_id AS b_id
FROM _docs a JOIN _docs b
  ON a.content_hash = b.content_hash AND a.doc_id < b.doc_id
"""


register(Query("exact_dup_pairs", "D2: exact duplicate pair list", _exact_dup_pairs))


def _exact_dup_pairs_synth(dialect: str) -> str:
    """Non-vacuous D2 surface. The shipped sf* `documents` tables contain no
    byte-identical texts, so `exact_dup_pairs` is vacuously green at the
    driver's sf0.01 (0 = 0 rows). This variant deterministically injects
    duplicate content — docs with doc_id % 10 < 2 collapse onto shared
    boilerplate texts keyed by doc_id % 5 (only classes 0 and 1 occur,
    since the selector fixes doc_id % 10) — then runs the IDENTICAL D1→D2
    path (normalize → content-hash → pair join) in both dialects, so the
    driver hashes real duplicate pairs (sf0.01, dense ids 0..499:
    2 classes × C(50,2) = 2,450 rows).
    Same synthesis device as structops.doc_link_stats / mediaops.
    ORACLE-ONLY clique semantics, as documented on `_exact_dup_pairs`."""
    return f"""
WITH _seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 < 2
              THEN concat('Shared boilerplate block ',
                          CAST(doc_id % 5 AS STRING),
                          '. All rights reserved.')
              ELSE text END AS text
  FROM documents
),
{P.doc_norm(dialect, CFG, table="_seeded")}
SELECT a.doc_id AS a_id, b.doc_id AS b_id
FROM _docs a JOIN _docs b
  ON a.content_hash = b.content_hash AND a.doc_id < b.doc_id
"""


register(
    Query(
        "exact_dup_pairs_synth",
        "D2: exact duplicate pairs, non-vacuous via deterministic dup injection",
        _exact_dup_pairs_synth,
    )
)


def _dedup_survivors(dialect: str) -> str:
    """Surviving (non-duplicate) docs: row_number()==1 per hash, ordered by
    doc_id — SURVEY §2.6's single window function."""
    return f"""
WITH {P.doc_norm(dialect, CFG)},
_r AS (
  SELECT doc_id, content_hash,
         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM _docs
)
SELECT doc_id, content_hash FROM _r WHERE rn = 1
"""


register(Query("dedup_survivors", "D2/D9: exact-dedup survivor set (window)", _dedup_survivors))


def _dedup_metrics(dialect: str) -> str:
    """D17: dedup-ratio metrics. Ratio reported as exact integer pair
    (dup_docs, total_docs) — no float in the checked output."""
    return f"""
WITH {P.doc_norm(dialect, CFG)}
SELECT count(*) AS total_docs,
       count(DISTINCT content_hash) AS distinct_hashes,
       count(*) - count(DISTINCT content_hash) AS exact_dup_docs
FROM _docs
"""


register(Query("dedup_metrics", "D17: corpus-level dedup counters", _dedup_metrics))


# ---------------------------------------------------------------------------
# Stage 2 — MinHash / LSH near-dup detection
# (reference: minhash_redis.py:162-242, minhash_lsh.py:92-181)
#
# Spark side: vectorized Arrow signature operator + DataFrame joins (the
# production/scale path). DuckDB side: generated SQL with bit-identical
# integer math. The pure-SQL Spark variant exists too but recomputes the
# 256-term signature expression per CTE reference once Catalyst inlines the
# CTEs — the Arrow operator is both the faster and the 100TB-correct design.
# ---------------------------------------------------------------------------

# Cap on LSH bucket size: buckets larger than this (boilerplate mega-buckets,
# reference's unbounded datasketch buckets — SURVEY §7 hard part (d)) are
# dropped from candidate generation. Deterministic, encoded in BOTH dialects
# from config.LSH_BUCKET_CAP: every capped SQL below writes it, and the Spark
# operators read it through operators/lsh.py `capped`, so the two sides can
# never drift.


def _sigs(spark: SparkSession, sf_dir: str):
    """Signature DataFrame for `documents` at sf_dir, persisted & memoized
    per application so the stage-2/3 queries share one computation.
    Long-lived sessions call release_tracked() to unpersist it."""
    from quarrycore_spark.operators.signatures import with_signatures

    return memo(
        spark,
        ("sigs", sf_dir),
        lambda: with_signatures(load(spark, sf_dir, "documents")["documents"], CFG),
    )


# kept for callers that release the signature memo by its old name
release_sigs = release_tracked


def _sig_prelude(dialect: str, table: str = "documents") -> str:
    """CTE chain {table} → normalized → shingles → 31-bit hashes → signature."""
    return (
        f"{P.doc_norm(dialect, CFG, table=table)},\n{P.doc_shingles(dialect, CFG)},\n"
        f"{P.doc_hashes31(dialect, CFG)},\n"
        f"_sig AS (SELECT doc_id, {D.minhash_array('hs', CFG, dialect)} AS sig, "
        f"{D.band_hash_array('hs', CFG, dialect)} AS bands FROM _h)"
    )


def _minhash_signatures(dialect: str) -> str:
    """D4-D6: per-doc MinHash signature, exploded to (doc_id, perm_idx, minhash)
    so the value hash checks every slot."""
    return f"""
WITH {_sig_prelude(dialect)}
SELECT doc_id, {D.posexplode('sig', 'perm_idx', 'minhash', dialect)}
FROM _sig
"""


def _spark_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return _sigs(spark, sf_dir).select(
        "doc_id", F.posexplode("sig").alias("perm_idx", "minhash")
    )


register(
    Query(
        "minhash_signatures",
        "D4-D6: 128-perm MinHash signatures",
        _minhash_signatures,
        spark_fn=_spark_minhash_signatures,
    )
)


def _band_cte(dialect: str, table: str = "documents") -> str:
    """CTEs producing capped LSH band buckets → `_bx` (doc_id, band_idx, band_hash)."""
    return f"""{_sig_prelude(dialect, table)},
_bx AS (SELECT doc_id, {D.posexplode('bands', 'band_idx', 'band_hash', dialect)} FROM _sig),
_cap AS (
  SELECT band_idx, band_hash FROM _bx
  GROUP BY band_idx, band_hash
  HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}
),
_bkt AS (
  SELECT b.doc_id, b.band_idx, b.band_hash
  FROM _bx b JOIN _cap c ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
)"""


def _lsh_candidate_pairs(dialect: str) -> str:
    """D7: band-bucket self-join → candidate pairs (a<b), with the number of
    bands in which the pair collides. Buckets above LSH_BUCKET_CAP dropped."""
    return f"""
WITH {_band_cte(dialect)}
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
FROM _bkt a JOIN _bkt b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


def _spark_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.operators.lsh import candidate_pairs

    return candidate_pairs(_sigs(spark, sf_dir))


register(
    Query(
        "lsh_candidate_pairs",
        "D7: LSH banding candidate generation",
        _lsh_candidate_pairs,
        spark_fn=_spark_lsh_candidate_pairs,
    )
)


def _minhash_verified_pairs(dialect: str) -> str:
    """D7+D8: candidates verified by signature agreement >= threshold
    (integer arithmetic: agree*100 >= num_perm*threshold_pct)."""
    thresh = f"100 * agree_cnt >= {CFG.num_perm * CFG.jaccard_threshold_pct}"
    return f"""
WITH {_band_cte(dialect)},
_cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM _bkt a JOIN _bkt b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
_ver AS (
  SELECT c.a_id, c.b_id,
         {D.sig_agreement('sa.sig', 'sb.sig', CFG.num_perm, dialect)} AS agree_cnt
  FROM _cand c
  JOIN _sig sa ON sa.doc_id = c.a_id
  JOIN _sig sb ON sb.doc_id = c.b_id
)
SELECT a_id, b_id, agree_cnt FROM _ver WHERE {thresh}
"""


def _spark_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.operators.lsh import verified_pairs

    return verified_pairs(_sigs(spark, sf_dir), CFG)


register(
    Query(
        "minhash_verified_pairs",
        "D7+D8: LSH candidates verified at signature-Jaccard >= 0.85",
        _minhash_verified_pairs,
        spark_fn=_spark_minhash_verified_pairs,
    )
)


# Injected-copy near-dup recall (VERDICT r5 #7): makes the pipeline's
# >=0.99 recall gate (previously pytest-only) part of the driver's
# CORRECTNESS record. Same synthesis device as exact_dup_pairs_synth:
# docs with doc_id % 10 < 2 AND length(text) >= 200 get a copy at
# doc_id + offset with a 3-char suffix appended — a true
# near-duplicate (shingle-Jaccard ~0.95+ at the 200-char floor; shorter
# docs are excluded because a 3-char edit honestly drops them below the
# 0.85 threshold, which would test the corpus, not the operator). The
# full md5-family LSH+verify path runs over base+copies in BOTH
# dialects; output is one row per injected pair with its verified flag
# and agreement count, so the value hash pins recall bit-for-bit.
# The injected-id offset is derived as max(doc_id)+1 in BOTH dialects
# (scalar-subquery / single-row aggregate) so corpora with >=1M docs or
# sparse doc_ids can never collide injected ids with real ones
# (ADVICE r6). The offset never appears in the output columns, so the
# value hash is unaffected by its actual magnitude.
_RECALL_SELECTOR = "doc_id % 10 < 2 AND length(text) >= 200"
_RECALL_OFF_SQL = "(SELECT max(doc_id) + 1 FROM documents)"


def _near_dup_recall_synth(dialect: str) -> str:
    thresh = f"100 * v.agree_cnt >= {CFG.num_perm * CFG.jaccard_threshold_pct}"
    return f"""
WITH _inj AS (
  SELECT doc_id + {_RECALL_OFF_SQL} AS doc_id, concat(text, ' q7') AS text
  FROM documents WHERE {_RECALL_SELECTOR}
),
_seeded AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM _inj
),
{_band_cte(dialect, table="_seeded")},
_cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM _bkt a JOIN _bkt b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
_ver AS (
  SELECT c.a_id, c.b_id,
         {D.sig_agreement('sa.sig', 'sb.sig', CFG.num_perm, dialect)} AS agree_cnt
  FROM _cand c
  JOIN _sig sa ON sa.doc_id = c.a_id
  JOIN _sig sb ON sb.doc_id = c.b_id
)
SELECT i.orig_id,
       CASE WHEN v.agree_cnt IS NOT NULL THEN 1 ELSE 0 END AS verified,
       CAST(COALESCE(v.agree_cnt, -1) AS BIGINT) AS agree_cnt
FROM (SELECT doc_id AS orig_id FROM documents WHERE {_RECALL_SELECTOR}) i
LEFT JOIN _ver v
  ON v.a_id = i.orig_id AND v.b_id = i.orig_id + {_RECALL_OFF_SQL}
  AND {thresh}
"""


def _spark_near_dup_recall_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOTE: signatures are INTENTIONALLY re-derived from the seeded corpus
    here rather than reused from `_sigs()`/run_pipeline's cached frame —
    the oracle must see the identical standalone computation over
    base+injected docs. Do not "optimize" this to share the pipeline's
    signature frame: that would silently couple the recall gate to
    pipeline internals (and the cached frame lacks the injected rows)."""
    from pyspark.sql import functions as F

    from quarrycore_spark.operators.lsh import verified_pairs
    from quarrycore_spark.operators.signatures import with_signatures

    docs = load(spark, sf_dir, "documents")["documents"]
    # single-row aggregate (bounded collect) mirroring the oracle's
    # scalar subquery: injected ids start past the real id range
    offset = docs.agg(F.max("doc_id")).first()[0] + 1
    eligible = docs.filter((F.col("doc_id") % 10 < 2) & (F.length("text") >= 200))
    inj = eligible.select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" q7")).alias("text"),
    )
    seeded = docs.select("doc_id", "text").unionByName(inj)
    # tracked persist: verified_pairs references the signature frame four
    # times (band explode × both self-join sides + both verify lookups);
    # without it the MapInPandas signature pass runs 4× in the plan
    sigs = track(with_signatures(seeded, CFG))
    ver = verified_pairs(sigs, CFG)
    injected = eligible.select(F.col("doc_id").alias("orig_id"))
    return (
        injected.join(
            ver,
            (ver.a_id == injected.orig_id)
            & (ver.b_id == injected.orig_id + F.lit(offset)),
            "left",
        )
        .select(
            "orig_id",
            F.when(F.col("agree_cnt").isNotNull(), 1).otherwise(0).alias("verified"),
            F.coalesce(F.col("agree_cnt"), F.lit(-1)).cast("long").alias("agree_cnt"),
        )
    )


register(
    Query(
        "near_dup_recall_synth",
        "D6-D8 recall gate: injected near-dup copies re-found by LSH+verify",
        _near_dup_recall_synth,
        spark_fn=_spark_near_dup_recall_synth,
    )
)


# ---------------------------------------------------------------------------
# Stage 3 — SimHash Hamming blocking (north-rule replacement for the
# reference's fuzzy tiers, fuzzy_matcher.py:107-125, 200-211)
# ---------------------------------------------------------------------------


def _simhash_prelude(dialect: str, table: str = "documents") -> str:
    return (
        f"{P.doc_norm(dialect, CFG, table=table)},\n{P.doc_shingles(dialect, CFG)},\n"
        f"{P.doc_hashes60(dialect, CFG)},\n"
        f"_sim AS (SELECT doc_id, {D.simhash('h60s', CFG, dialect)} AS simhash FROM _h60)"
    )


def _simhash_signatures(dialect: str) -> str:
    return f"\nWITH {_simhash_prelude(dialect)}\nSELECT doc_id, simhash FROM _sim\n"


def _spark_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sigs(spark, sf_dir).select("doc_id", "simhash")


register(
    Query(
        "simhash_signatures",
        "D10: 60-bit SimHash per doc",
        _simhash_signatures,
        spark_fn=_spark_simhash_signatures,
    )
)


def _simhash_band_array(dialect: str) -> str:
    """The pigeonhole band array of a `simhash` column: simhash_bands
    slices of simhash_bits / simhash_bands bits."""
    width = CFG.simhash_bits // CFG.simhash_bands
    mask = (1 << width) - 1
    bands = ", ".join(f"(simhash >> {i * width}) & {mask}" for i in range(CFG.simhash_bands))
    return f"array({bands})" if dialect == SPARK else f"[{bands}]"


def _simhash_band_ctes(dialect: str) -> str:
    """The pigeonhole band/cap/candidate CTE chain over `_sim` — shared by
    `simhash_pairs` and the injected-copy recall gate so the recall query
    exercises the IDENTICAL banded path."""
    return f"""_bx AS (
  SELECT doc_id, simhash AS sim_a,
         {D.posexplode(_simhash_band_array(dialect), 'band_idx', 'band_val', dialect)}
  FROM _sim
),
_cap AS (
  SELECT band_idx, band_val FROM _bx
  GROUP BY band_idx, band_val HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}
),
_bkt AS (
  SELECT b.* FROM _bx b JOIN _cap c
    ON b.band_idx = c.band_idx AND b.band_val = c.band_val
),
_cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         a.sim_a AS sim_a, b.sim_a AS sim_b
  FROM _bkt a JOIN _bkt b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)"""


def _simhash_pairs_sql(dialect: str) -> str:
    return f"""
WITH {_simhash_prelude(dialect)},
{_simhash_band_ctes(dialect)}
SELECT a_id, b_id, {D.bit_count(D.xor('sim_a', 'sim_b', dialect), dialect)} AS hamming
FROM _cand
WHERE {D.bit_count(D.xor('sim_a', 'sim_b', dialect), dialect)} <= {CFG.hamming_max}
"""


def _spark_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.operators.simhash import simhash_pairs

    return simhash_pairs(_sigs(spark, sf_dir), CFG)


register(
    Query(
        "simhash_pairs",
        "D10/D12: SimHash Hamming<=3 pair detection via pigeonhole bands",
        _simhash_pairs_sql,
        spark_fn=_spark_simhash_pairs,
    )
)


# SimHash blocking-recall gate (VERDICT r6 #3, mirror of
# near_dup_recall_synth): docs with doc_id % 10 >= 8 AND length >= 200 get
# a copy with a 1-char '.' suffix at offset max(doc_id)+1. The full banded
# pair path runs over base+copies in BOTH dialects; output is one row per
# injected pair with its TRUE pairwise Hamming distance and whether the
# banded path re-found it. The pigeonhole guarantee (4 bands × 15 bits,
# hamming_max 3 → at least one band untouched) means found == 1 exactly
# when true_ham <= 3 and the pair's buckets stay within the 2..cap window
# — the driver hash pins stage-level blocking recall bit-for-bit. Pairs
# with true_ham > 3 honestly stay found=0 (that tests the threshold, not
# a miss: a 1-char edit on a short doc can legitimately flip > 3 bits).
_SIMHASH_RECALL_SELECTOR = "doc_id % 10 >= 8 AND length(text) >= 200"


def _simhash_recall_synth(dialect: str) -> str:
    return f"""
WITH _inj AS (
  SELECT doc_id + {_RECALL_OFF_SQL} AS doc_id, text || '.' AS text
  FROM documents WHERE {_SIMHASH_RECALL_SELECTOR}
),
_seeded AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM _inj
),
{_simhash_prelude(dialect, table="_seeded")},
{_simhash_band_ctes(dialect)},
_pairs AS (
  SELECT a_id, b_id,
         {D.bit_count(D.xor('sim_a', 'sim_b', dialect), dialect)} AS hamming
  FROM _cand
  WHERE {D.bit_count(D.xor('sim_a', 'sim_b', dialect), dialect)} <= {CFG.hamming_max}
)
SELECT i.orig_id,
       {D.bit_count(D.xor('sa.simhash', 'sb.simhash', dialect), dialect)} AS true_ham,
       CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS found
FROM (SELECT doc_id AS orig_id FROM documents WHERE {_SIMHASH_RECALL_SELECTOR}) i
JOIN _sim sa ON sa.doc_id = i.orig_id
JOIN _sim sb ON sb.doc_id = i.orig_id + {_RECALL_OFF_SQL}
LEFT JOIN _pairs p
  ON p.a_id = i.orig_id AND p.b_id = i.orig_id + {_RECALL_OFF_SQL}
"""


def _spark_simhash_recall_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signatures are intentionally re-derived from the seeded corpus (see
    _spark_near_dup_recall_synth's note — the oracle must see the identical
    standalone computation, and the cached frame lacks the injected rows)."""
    from pyspark.sql import functions as F

    from quarrycore_spark.operators.signatures import with_signatures
    from quarrycore_spark.operators.simhash import simhash_pairs

    docs = load(spark, sf_dir, "documents")["documents"]
    offset = docs.agg(F.max("doc_id")).first()[0] + 1
    eligible = docs.filter((F.col("doc_id") % 10 >= 8) & (F.length("text") >= 200))
    inj = eligible.select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(".")).alias("text"),
    )
    seeded = docs.select("doc_id", "text").unionByName(inj)
    sigs = track(with_signatures(seeded, CFG))
    pairs = simhash_pairs(sigs, CFG)
    sa = sigs.select(F.col("doc_id").alias("orig_id"), F.col("simhash").alias("sim_a"))
    sb = sigs.filter(F.col("doc_id") >= offset).select(
        (F.col("doc_id") - F.lit(offset)).alias("orig_id"),
        F.col("simhash").alias("sim_b"),
    )
    base = sa.join(sb, "orig_id")
    return (
        base.join(
            pairs,
            (pairs.a_id == base.orig_id) & (pairs.b_id == base.orig_id + F.lit(offset)),
            "left",
        )
        .select(
            "orig_id",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            .cast("long").alias("true_ham"),
            F.when(F.col("a_id").isNotNull(), 1).otherwise(0).alias("found"),
        )
    )


register(
    Query(
        "simhash_recall_synth",
        "D10 recall gate: injected 1-char-suffix copies re-found by the "
        "banded SimHash path iff true Hamming <= 3 (pigeonhole)",
        _simhash_recall_synth,
        spark_fn=_spark_simhash_recall_synth,
    )
)


# ---------------------------------------------------------------------------
# Stage 4 — long-common-substring overlap via L-gram equality
# (north-rule replacement for difflib partial matches, fuzzy_matcher.py:213-236)
# ---------------------------------------------------------------------------

SUBSTR_L = CFG.min_overlap_small  # documents-table texts are ~300 chars


def _capped_gram_ctes(dialect: str) -> str:
    """CTEs over `_docs`: each doc's distinct L-gram hashes (`_g`), one row
    per gram (`_gx`), and the rows of 2..cap gram buckets (`_gk`) — shared
    by `substring_pairs` and its injected-copy recall gate."""
    if dialect == SPARK:
        grams = (
            f"case when length(nt) < {SUBSTR_L} then array({D.hex_int('nt', 15, dialect)}) "
            f"else array_distinct(transform(sequence(0, length(nt) - {SUBSTR_L}), "
            f"i -> {D.hex_int(f'substring(nt, i + 1, {SUBSTR_L})', 15, dialect)})) end"
        )
        explode = "explode(grams) AS g"
    else:
        grams = (
            f"case when length(nt) < {SUBSTR_L} then [{D.hex_int('nt', 15, dialect)}] "
            f"else list_distinct(list_transform(range(0, length(nt) - {SUBSTR_L} + 1), "
            f"i -> {D.hex_int(f'substr(nt, i + 1, {SUBSTR_L})', 15, dialect)})) end"
        )
        explode = "unnest(grams) AS g"
    return f"""_g AS (SELECT doc_id, {grams} AS grams FROM _docs),
_gx AS (SELECT doc_id, {explode} FROM _g),
_cap AS (SELECT g FROM _gx GROUP BY g HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}),
_gk AS (SELECT x.doc_id, x.g FROM _gx x JOIN _cap c ON x.g = c.g)"""


def _substring_pairs_sql(dialect: str) -> str:
    return f"""
WITH {P.doc_norm(dialect, CFG)},
{_capped_gram_ctes(dialect)}
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared_grams
FROM _gk a JOIN _gk b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


def _spark_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.operators.substring import gram_doc_pairs

    docs = load(spark, sf_dir, "documents")["documents"]
    return gram_doc_pairs(docs, SUBSTR_L)


register(
    Query(
        "substring_pairs",
        "D13: common-substring(>=L) pair detection via L-gram join",
        _substring_pairs_sql,
        spark_fn=_spark_substring_pairs,
    )
)


# Substring/containment-recall gate (VERDICT r6 #3): docs with
# doc_id % 10 IN (4, 5) AND length >= 240 get a copy whose text is the raw
# 160-char slice substr(text, 41, 160) at offset max(doc_id)+1 — a true
# containment pair (the slice's normalized form shares >= 160-2·L full
# L-grams with the original, far above the >= 1 detection floor). The full
# L-gram path (normalize → distinct gram hashes → 2..cap bucket join) runs
# over base+copies in BOTH dialects; output is one row per injected pair
# with found flag + shared-gram count, so the driver hash pins stage-level
# containment recall (expected: found = 1 for every injected pair).
_SUBSTR_RECALL_SELECTOR = "doc_id % 10 IN (4, 5) AND length(text) >= 240"


def _substring_recall_synth(dialect: str) -> str:
    return f"""
WITH _inj AS (
  SELECT doc_id + {_RECALL_OFF_SQL} AS doc_id, substr(text, 41, 160) AS text
  FROM documents WHERE {_SUBSTR_RECALL_SELECTOR}
),
_seeded AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM _inj
),
{P.doc_norm(dialect, CFG, table="_seeded")},
{_capped_gram_ctes(dialect)},
_pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared_grams
  FROM _gk a JOIN _gk b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.orig_id,
       CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS found,
       CAST(COALESCE(p.shared_grams, 0) AS BIGINT) AS shared_grams
FROM (SELECT doc_id AS orig_id FROM documents WHERE {_SUBSTR_RECALL_SELECTOR}) i
LEFT JOIN _pairs p
  ON p.a_id = i.orig_id AND p.b_id = i.orig_id + {_RECALL_OFF_SQL}
"""


def _spark_substring_recall_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from quarrycore_spark.operators.substring import gram_doc_pairs

    docs = load(spark, sf_dir, "documents")["documents"]
    offset = docs.agg(F.max("doc_id")).first()[0] + 1
    eligible = docs.filter(
        (F.col("doc_id") % 10).isin(4, 5) & (F.length("text") >= 240)
    )
    inj = eligible.select(
        (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
        F.substring("text", 41, 160).alias("text"),
    )
    seeded = docs.select("doc_id", "text").unionByName(inj)
    pairs = gram_doc_pairs(seeded, SUBSTR_L)
    injected = eligible.select(F.col("doc_id").alias("orig_id"))
    return (
        injected.join(
            pairs,
            (pairs.a_id == injected.orig_id)
            & (pairs.b_id == injected.orig_id + F.lit(offset)),
            "left",
        )
        .select(
            "orig_id",
            F.when(F.col("a_id").isNotNull(), 1).otherwise(0).alias("found"),
            F.coalesce(F.col("shared_grams"), F.lit(0)).cast("long")
            .alias("shared_grams"),
        )
    )


register(
    Query(
        "substring_recall_synth",
        "D13 recall gate: injected 160-char-slice containment pairs "
        "re-found by the L-gram path",
        _substring_recall_synth,
        spark_fn=_spark_substring_recall_synth,
    )
)


# ---------------------------------------------------------------------------
# Clustering — connected components over the dedup edge graph
# (reference greedy clustering minhash_lsh.py:224-241 → its CC fixpoint)
# ---------------------------------------------------------------------------


def _edges_sql(dialect: str) -> str:
    """Edge CTEs: exact-star ∪ minhash-verified ∪ simhash pairs (as `_edges`).

    Exact edges are the STAR form (member → min(doc_id) per hash): O(n) per
    hash group instead of the O(n²) clique, with identical connected
    components and an identical "later member" set (every non-min member
    appears as `v` exactly as it would in the clique)."""
    thresh = CFG.num_perm * CFG.jaccard_threshold_pct
    return f"""{P.doc_norm(dialect, CFG)},
{P.doc_shingles(dialect, CFG)},
{P.doc_hashes31(dialect, CFG)},
{P.doc_hashes60(dialect, CFG)},
_sig AS (SELECT doc_id, {D.minhash_array('hs', CFG, dialect)} AS sig,
         {D.band_hash_array('hs', CFG, dialect)} AS bands FROM _h),
_sim AS (SELECT doc_id, {D.simhash('h60s', CFG, dialect)} AS simhash FROM _h60),
_canon AS (SELECT content_hash, min(doc_id) AS canon_id FROM _docs GROUP BY content_hash),
_ex AS (
  SELECT c.canon_id AS u, d.doc_id AS v
  FROM _docs d JOIN _canon c
    ON d.content_hash = c.content_hash AND d.doc_id > c.canon_id
),
_bx AS (SELECT doc_id, {D.posexplode('bands', 'band_idx', 'band_hash', dialect)} FROM _sig),
_capm AS (SELECT band_idx, band_hash FROM _bx GROUP BY band_idx, band_hash
          HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}),
_bktm AS (SELECT b.doc_id, b.band_idx, b.band_hash FROM _bx b
          JOIN _capm c ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash),
_candm AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM _bktm a JOIN _bktm b
           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
_mh0 AS (
  SELECT c.a_id AS u, c.b_id AS v,
         {D.sig_agreement('sa.sig', 'sb.sig', CFG.num_perm, dialect)} AS agree
  FROM _candm c
  JOIN _sig sa ON sa.doc_id = c.a_id JOIN _sig sb ON sb.doc_id = c.b_id
),
_mh AS (SELECT u, v, agree FROM _mh0 WHERE 100 * agree >= {thresh}),
_sbx AS (SELECT doc_id, simhash, {D.posexplode(_simhash_band_array(dialect), 'band_idx', 'band_val', dialect)} FROM _sim),
_caps AS (SELECT band_idx, band_val FROM _sbx GROUP BY band_idx, band_val
          HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}),
_bkts AS (SELECT b.doc_id, b.simhash, b.band_idx, b.band_val FROM _sbx b
          JOIN _caps c ON b.band_idx = c.band_idx AND b.band_val = c.band_val),
_sh_pairs AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v FROM _bkts a JOIN _bkts b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
  WHERE {D.bit_count(D.xor('a.simhash', 'b.simhash', dialect), dialect)} <= {CFG.hamming_max}
),
_edges AS (
  SELECT u, v FROM _ex UNION SELECT u, v FROM _mh UNION SELECT u, v FROM _sh_pairs
)"""


# Transitive closure of `_edges` over every doc in `documents` (after
# `_edges_sql`, in a WITH RECURSIVE): `reach(src, dst)` holds every doc a
# doc reaches, itself included, so min(dst) per src is its component id.
_REACH_CTES = """_sym AS (SELECT u, v FROM _edges UNION SELECT v AS u, u AS v FROM _edges),
reach(src, dst) AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, s.v AS dst FROM reach r JOIN _sym s ON r.dst = s.u
)"""


def _dedup_clusters_sql(dialect: str) -> str:
    """DuckDB-only oracle: transitive closure via recursive CTE. The Spark
    side runs large-star/small-star label propagation (operators/cc.py)."""
    return f"""
WITH RECURSIVE {_edges_sql(dialect)},
{_REACH_CTES}
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


def dedup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark edge graph: exact-star ∪ minhash-verified ∪ simhash pairs.

    Exact edges are star edges (member → min(doc_id) per content_hash),
    mirroring plans/pipeline.py — O(n) per hash group, same components."""
    from pyspark.sql import functions as F

    from quarrycore_spark.operators.lsh import verified_pairs
    from quarrycore_spark.operators.simhash import simhash_pairs

    sigs = _sigs(spark, sf_dir)
    s = sigs.select("doc_id", "content_hash")
    canon = s.groupBy("content_hash").agg(F.min("doc_id").alias("u"))
    ex = (
        s.join(canon, "content_hash")
        .filter(F.col("doc_id") > F.col("u"))
        .select("u", F.col("doc_id").alias("v"))
    )
    mh = verified_pairs(sigs, CFG).select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    )
    sh = simhash_pairs(sigs, CFG).select(
        F.col("a_id").alias("u"), F.col("b_id").alias("v")
    )
    return ex.union(mh).union(sh).distinct()


def _spark_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.operators.cc import connected_components

    docs = load(spark, sf_dir, "documents")["documents"]
    edges = dedup_edges(spark, sf_dir)
    return connected_components(edges, docs.select("doc_id"))


register(
    Query(
        "dedup_clusters",
        "D16: connected-component cluster assignment (large-star/small-star)",
        _dedup_clusters_sql,
        spark_fn=_spark_dedup_clusters,
    )
)


def _dedup_labels_sql(dialect: str) -> str:
    """D15+D12: multi-level combine — per-doc is_duplicate + duplicate_type
    with stage priority exact > minhash > simhash (deduplicator.py:380-390),
    and the minhash tier split by the reference's similarity ladder
    (fuzzy_matcher.py:200-211): sim >= .95 → near_exact, >= .90 →
    very_similar, else minhash. Integer thresholds over the best signature
    agreement (agree*100 vs num_perm*pct)."""
    ne = CFG.num_perm * 95
    vs = CFG.num_perm * 90
    return f"""
WITH {_edges_sql(dialect)},
_exb AS (SELECT DISTINCT v FROM _ex),
_mhb AS (SELECT v, max(agree) AS best_agree FROM _mh GROUP BY v),
_shb AS (SELECT DISTINCT v FROM _sh_pairs)
SELECT d.doc_id,
  CASE WHEN e.v IS NOT NULL THEN 'exact'
       WHEN m.v IS NOT NULL AND 100 * m.best_agree >= {ne} THEN 'near_exact'
       WHEN m.v IS NOT NULL AND 100 * m.best_agree >= {vs} THEN 'very_similar'
       WHEN m.v IS NOT NULL THEN 'minhash'
       WHEN s.v IS NOT NULL THEN 'simhash'
       ELSE 'unique' END AS duplicate_type,
  (e.v IS NOT NULL OR m.v IS NOT NULL OR s.v IS NOT NULL) AS is_duplicate
FROM _docs d
LEFT JOIN _exb e ON d.doc_id = e.v
LEFT JOIN _mhb m ON d.doc_id = m.v
LEFT JOIN _shb s ON d.doc_id = s.v
"""


def _spark_dedup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from quarrycore_spark.operators.lsh import verified_pairs
    from quarrycore_spark.operators.simhash import simhash_pairs

    sigs = _sigs(spark, sf_dir)
    s = sigs.select("doc_id", "content_hash")
    canon = s.groupBy("content_hash").agg(F.min("doc_id").alias("canon_id"))
    ex = (
        s.join(canon, "content_hash")
        .filter(F.col("doc_id") > F.col("canon_id"))
        .select("doc_id")
        .distinct()
        .withColumn("t_exact", F.lit(True))
    )
    mh = (
        verified_pairs(sigs, CFG)
        .groupBy(F.col("b_id").alias("doc_id"))
        .agg(F.max("agree_cnt").alias("best_agree"))
        .withColumn("t_minhash", F.lit(True))
    )
    sh = (
        simhash_pairs(sigs, CFG)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
        .withColumn("t_simhash", F.lit(True))
    )
    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")
    return (
        docs.join(ex, "doc_id", "left")
        .join(mh, "doc_id", "left")
        .join(sh, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("t_exact"), "exact")
            .when(
                F.col("t_minhash") & (F.col("best_agree") * 100 >= CFG.num_perm * 95),
                "near_exact",
            )
            .when(
                F.col("t_minhash") & (F.col("best_agree") * 100 >= CFG.num_perm * 90),
                "very_similar",
            )
            .when(F.col("t_minhash"), "minhash")
            .when(F.col("t_simhash"), "simhash")
            .otherwise("unique")
            .alias("duplicate_type"),
            F.coalesce(
                F.col("t_exact") | F.col("t_minhash") | F.col("t_simhash"), F.lit(False)
            ).alias("is_duplicate"),
        )
    )


register(
    Query(
        "dedup_labels",
        "D15: per-doc duplicate flag + stage-priority type",
        _dedup_labels_sql,
        spark_fn=_spark_dedup_labels,
    )
)


def _cluster_size_histogram_sql(dialect: str) -> str:
    """D16/D17: cluster-size distribution (groupBy cluster then by size) —
    the 'cluster sizes / dedup ratio' aggregation of SURVEY §2.5."""
    return f"""
WITH RECURSIVE {_edges_sql(dialect)},
{_REACH_CTES},
_cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
_sz AS (SELECT cluster_id, count(*) AS cluster_size FROM _cl GROUP BY cluster_id)
SELECT cluster_size, count(*) AS n_clusters
FROM _sz GROUP BY cluster_size
"""


def _spark_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    clusters = _spark_dedup_clusters(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )


register(
    Query(
        "cluster_size_histogram",
        "D16/D17: cluster-size distribution",
        _cluster_size_histogram_sql,
        spark_fn=_spark_cluster_size_histogram,
    )
)


def _quality_scaled_sql(dialect: str) -> str:
    """The integerized P11 quality score as a scalar expression over
    (text, lang) — the same formula `text_quality` checks standalone."""
    nt = D.norm_text("text", dialect)
    d = "div" if dialect == SPARK else "//"
    len_ok = f"case when length({nt}) > {CFG.min_text_len} then 1 else 0 end"
    lang_en = "case when lang = 'en' then 1 else 0 end"
    return f"(((30 * ({len_ok}) + 40 * ({lang_en})) * 100) {d} 70)"


def _cluster_representatives_sql(dialect: str) -> str:
    """D2/D16 composition: per near-dup cluster, keep the highest-quality
    member (quality desc, doc_id asc tie-break) — the RefinedWeb-style
    'best representative' selection, vs the pipeline's min-doc-id rule.
    The survivor set changes ONLY where a cluster's best-quality member
    is not its oldest — exactly the cases a quality-aware dedup exists
    for, and the hash pins them."""
    return f"""
WITH RECURSIVE {_edges_sql(dialect)},
{_REACH_CTES},
_cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
_q AS (SELECT doc_id, {_quality_scaled_sql(dialect)} AS quality_scaled
       FROM documents),
_rk AS (SELECT c.cluster_id, c.doc_id, q.quality_scaled,
               row_number() OVER (PARTITION BY c.cluster_id
                   ORDER BY q.quality_scaled DESC, c.doc_id ASC) AS rk,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        FROM _cl c JOIN _q q ON c.doc_id = q.doc_id)
SELECT cluster_id,
       doc_id AS rep_id,
       cast(quality_scaled as int) AS rep_quality,
       cast(cluster_size as int) AS cluster_size,
       cast(cluster_size - 1 as int) AS n_discarded
FROM _rk WHERE rk = 1
"""


def _spark_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One doc_id join (clusters ⋈ quality projection) + ONE two-stage
    aggregate. The rep is max(struct(quality, -doc_id)) — struct max is
    partial-aggregatable, so a 10⁸-member boilerplate mega-cluster folds
    map-side instead of landing on one task the way a rank window would;
    no text crosses a shuffle (quality is computed in the scan
    projection). The oracle uses the equivalent rank-window form (DuckDB
    has no struct max); the hash pins the two as identical."""
    from pyspark.sql import functions as F

    clusters = _spark_dedup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")["documents"]
    quality = docs.select(
        "doc_id", F.expr(_quality_scaled_sql(SPARK)).alias("quality_scaled")
    )
    joined = clusters.join(quality, "doc_id")
    best = F.max(
        F.struct(
            F.col("quality_scaled").alias("q"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        joined.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"), best)
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("rep_id"),
            F.col("best.q").cast("int").alias("rep_quality"),
            F.col("cluster_size").cast("int").alias("cluster_size"),
            (F.col("cluster_size") - 1).cast("int").alias("n_discarded"),
        )
    )


register(
    Query(
        "cluster_representatives",
        "D2/D16 composition: per-cluster best-quality representative "
        "(quality desc, doc_id asc) — quality-aware canonical selection "
        "over the full CC cluster assignment",
        _cluster_representatives_sql,
        spark_fn=_spark_cluster_representatives,
    )
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.run_spark for name, q in REGISTRY.items()}


# Registration side-effect modules (import at bottom to avoid cycles).
from quarrycore_spark.plans import (  # noqa: E402,F401
    asof,
    c4,
    classify,
    crawlops,
    decontam,
    domops,
    dsops,
    funnel,
    gopher,
    heavyhitters,
    incremental,
    linkgraph,
    mediaops,
    metaextract,
    metaops,
    mixture,
    packing,
    pagerank,
    rarity,
    repetition,
    robots,
    sitemaps,
    structops,
    textops,
    urlfilter,
    urlops,
    vectorops,
)


def oracles() -> dict[str, str]:
    return {name: q.oracle() for name, q in REGISTRY.items() if q.oracle() is not None}


# CPU-dense SQL-only queries over the documents table: the per-row work
# (regex batteries, n-gram array builds, md5 lambdas) is orders of
# magnitude above scan cost, so an unsplittable single-row-group input
# file serializes them onto one core (guide §2.5). Spread their scans.
# Set centrally (after the registration imports above) so the flag and
# its rationale live in one place. Queries NOT listed either have a
# spark_fn (which handles its own partitioning), are shuffle-bound
# already, or are too cheap for the extra exchange to pay.
for _name in (
    "c4_line_filter",
    "clean_dup_lines",
    "content_metrics",
    "corpus_dup_lines",
    "decontaminate",
    "doc_repetition",
    "domain_classify",
    "filter_funnel",
    "gopher_quality_flags",
    "heavy_hitter_ngrams",
    "lang_id",
    "medical_entities",
    "pii_redact",
    "pii_scan",
    "sitemap_entries",
    "text_quality",
    "token_counts",
):
    REGISTRY[_name].spread = ("documents",)
