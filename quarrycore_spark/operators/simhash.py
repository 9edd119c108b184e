"""SimHash Hamming-distance blocking — stage 3 of the dedup cascade.

North-rule replacement for the reference's fuzzy near_exact/very_similar
tiers (fuzzy_matcher.py:107-125, 200-211): a 60-bit SimHash over the same
7-char shingles, paired by pigeonhole band blocking (hamming <= 3 over 4
bands of 15 bits ⇒ at least one band equal) and verified with
bit_count(xor) — pure JVM column expressions, no UDF.

Same shuffle discipline as operators/lsh.py: one fused int64 bucket key
(band_val < 2¹⁵, so `band_val * n_bands + band_idx` is injective) and the
window-count cap filter (``lsh.capped``) whose exchange the self-join
reuses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quarrycore_spark import config
from quarrycore_spark.config import DEFAULT_CONFIG, DedupConfig
from quarrycore_spark.operators.lsh import capped


def simhash_bands(sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """sigs(doc_id, simhash) → (doc_id, simhash, bkey) with the fused
    pigeonhole bucket key."""
    width = cfg.simhash_bits // cfg.simhash_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            (F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)))
            for i in range(cfg.simhash_bands)
        ]
    )
    return sigs.select(
        "doc_id", "simhash", F.posexplode(bands).alias("band_idx", "band_val")
    ).select(
        "doc_id",
        "simhash",
        (F.col("band_val") * cfg.simhash_bands + F.col("band_idx")).alias("bkey"),
    )


def simhash_pairs(sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(a_id, b_id, hamming) for pairs at Hamming distance <= hamming_max."""
    bkt = capped(simhash_bands(sigs, cfg), "bkey", "doc_id", config.LSH_BUCKET_CAP)
    a = bkt.alias("a")
    b = bkt.alias("b")
    # The Hamming verify rides the join itself (post-join filter inside the
    # same codegen stage), so the in-bucket quadratic candidate stream —
    # O(Σ bucket²), tens of millions of rows on a replica-heavy corpus — is
    # reduced to true near-dups BEFORE anything shuffles again. The
    # dropDuplicates (same pair found by several bands) then dedups only
    # survivors instead of the full candidate stream: measured 54.7 s → the
    # join's streamed compare at 320k docs, with the ~800 MB dedup shuffle
    # gone.
    return (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                <= cfg.hamming_max
            ),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
