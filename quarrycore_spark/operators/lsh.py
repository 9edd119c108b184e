"""LSH candidate generation + Jaccard verification as DataFrame ops.

Spark-native replacement of the reference's Redis LSH index
(minhash_redis.py:228-242): instead of per-doc band-bucket probes, the whole
corpus is exploded to band-bucket rows, hot buckets are capped (the batch
analogue of the reference's unbounded-bucket problem, SURVEY §4 "domain
backpressure" row), and candidates come from an equi self-join — pure
shuffle, no index, AQE-salted when skewed.

Shuffle discipline (this is the shuffle-bound stage of the pipeline):
* (band_idx, band_hash) is fused into ONE int64 key — band hashes are mod
  2³¹−1, so `band_hash * n_bands + band_idx` is injective and fits — which
  halves the join-key bytes crossing the wire;
* the 2..cap bucket-size filter (``capped``, the one owner of the bucket
  cap for every capped stage) is a window count over the SAME partitioning
  the self-join needs, so Catalyst reuses one exchange for the filter and
  both join sides (one wide shuffle of the exploded rows total, vs a
  groupBy + join + self-join chain's three).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from quarrycore_spark import config
from quarrycore_spark.config import DEFAULT_CONFIG, DedupConfig

# Fused-key multiplier: band_idx slots reserved per band_hash. Any banding
# up to 1024 bands stays injective (band hashes are mod 2³¹−1, so
# bkey <= 2⁴¹ fits int64 with room); using a constant rather than the
# actual band count means every signature family (8-band poly, arbitrary
# optimal_param datasketch banding) shares one injective key space.
_MAX_BANDS = 1024


def capped(df: DataFrame, keys: str | list[str], member: str, cap: int) -> DataFrame:
    """The rows of `df` whose bucket (rows equal on `keys`) holds 2..cap
    members: singleton buckets pair with nothing, and buckets above the cap
    are boilerplate mega-buckets, dropped deterministically. Every capped
    candidate stage calls this one rule.

    The count is a window over the whole bucket, ordered by `member`, so a
    self-join on `keys` reuses the window's exchange, and a later window
    with the same partitioning and order reuses its sort."""
    w = (
        Window.partitionBy(keys)
        .orderBy(member)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        df.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter((F.col("_bsz") >= 2) & (F.col("_bsz") <= cap))
        .drop("_bsz")
    )


def band_buckets(sigs: DataFrame) -> DataFrame:
    """sigs(doc_id, bands) → (doc_id, bkey), only buckets with 2..cap
    members (``capped`` at ``config.LSH_BUCKET_CAP``).

    bkey fuses (band_idx, band_hash) into one int64, so the cap's window
    and the self-join share one exchange on it.
    """
    bx = sigs.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_hash")
    ).select(
        "doc_id",
        # cast BEFORE the fold: band hashes arrive as int32 residues
        # (signatures.SIG_SCHEMA) and int32·1024 would wrap
        (F.col("band_hash").cast("long") * _MAX_BANDS + F.col("band_idx")).alias("bkey"),
    )
    return capped(bx, "bkey", "doc_id", config.LSH_BUCKET_CAP)


def candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Distinct (a_id, b_id, n_bands) candidate pairs from band collisions."""
    bkt = band_buckets(sigs)
    a = bkt.alias("a")
    b = bkt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("n_bands"))
    )


_AGREE = (
    "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1L, 0L)), "
    "0L, (acc, v) -> acc + v)"
)


def verified_pairs(
    sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Candidates verified at signature agreement >= threshold.

    Signature-Jaccard (fraction of equal permutation slots) is the
    reference's verification rule (minhash_lsh.py:162-181). Integer
    threshold: agree*100 >= num_perm * threshold_pct.
    """
    cand = candidate_pairs(sigs).select("a_id", "b_id")
    sig_only = sigs.select("doc_id", "sig")
    joined = (
        cand.join(sig_only.withColumnRenamed("sig", "sig_a"), cand.a_id == sig_only.doc_id)
        .drop("doc_id")
        .join(
            sig_only.withColumnRenamed("sig", "sig_b").withColumnRenamed("doc_id", "doc_id_b"),
            F.col("b_id") == F.col("doc_id_b"),
        )
        .drop("doc_id_b")
    )
    return (
        joined.withColumn("agree_cnt", F.expr(_AGREE))
        .filter(F.col("agree_cnt") * 100 >= cfg.num_perm * cfg.jaccard_threshold_pct)
        .select("a_id", "b_id", "agree_cnt")
    )
