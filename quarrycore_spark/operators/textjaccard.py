"""Word-trigram exact-Jaccard dedup as a DataFrame operator.

Same semantics/constants as the SQL in plans/textops.py (which serves as
the DuckDB oracle); this implementation persists the per-doc trigram arrays
so the cap-filter, the self-join, and the size lookups share one computation
instead of re-deriving them per reference (Catalyst inlines
multi-referenced CTEs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quarrycore_spark import config
from quarrycore_spark.operators._cache import track
from quarrycore_spark.operators.lsh import capped
from quarrycore_spark.operators.md5grams import word_trigram_hashes60
from quarrycore_spark.operators.signatures import doc_hashes


def trigram_jaccard_pairs(docs: DataFrame, threshold_pct: int) -> DataFrame:
    """Trigram hashing runs in the batched md5 kernel
    (operators/md5grams.py) — identical integers to the SQL formulation
    in plans/textops.py (which remains the DuckDB oracle), but C md5 over
    Arrow batches instead of an interpreted transform() lambda."""
    t = track(doc_hashes(docs, word_trigram_hashes60))
    # gram rows carry the doc's distinct-gram count so (a) the final
    # union computation needs no size joins (n_a/n_b ride the groupBy
    # keys, on which they are functionally dependent) and (b) the join
    # can prune size-mismatched pairs BEFORE they exist: a qualifying
    # pair needs inter >= T/(100+T)·(n_a+n_b) and inter <= min(n_a,n_b),
    # so any pair with 100·min(n_a,n_b) < T·max(n_a,n_b) cannot pass the
    # final filter — dropping it inside the join changes nothing in the
    # output (exact, integer arithmetic; boundary kept by >=) and cuts
    # the candidate-pair mass ~35% on the bench corpus (127M -> 83M).
    gx = t.select("doc_id", F.size("gs").alias("n_g"), F.explode("gs").alias("g"))
    # 2..cap bucket filter as a window count over the self-join's own
    # partitioning (one wide shuffle, no cached exploded table)
    gk = capped(gx, "g", "doc_id", config.LSH_BUCKET_CAP)
    inter = (
        gk.alias("a")
        .join(
            gk.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                100 * F.least(F.col("a.n_g"), F.col("b.n_g"))
                >= threshold_pct * F.greatest(F.col("a.n_g"), F.col("b.n_g"))
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_g").alias("n_a"),
            F.col("b.n_g").alias("n_b"),
        )
        .agg(F.count("*").alias("inter_cnt"))
    )
    return (
        inter.withColumn("union_cnt", F.col("n_a") + F.col("n_b") - F.col("inter_cnt"))
        .filter(F.col("inter_cnt") * 100 >= threshold_pct * F.col("union_cnt"))
        .select("a_id", "b_id", "inter_cnt", "union_cnt")
    )
