"""Structured Streaming dedup — the streaming expression of the batch
pipeline (SURVEY §2.10): the reference is an asyncio stream of documents;
at Spark scale the same semantics are

* exact dedup within watermark: ``dropDuplicates`` on the content hash
  after the extraction UDF (bounded state, late data dropped by watermark);
* cross-batch exact dedup: ``foreachBatch`` incrementally maintaining a
  seen-hashes parquet state table — the streaming analogue of the
  reference's SQLite INSERT-or-fail store (hash_db.py:81-105), with
  first-writer-wins preserved by batch ordering.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quarrycore_spark.extraction.canonical import extract_pages


def streaming_exact_dedup(
    pages_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Within-watermark exact dedup: one row per (content hash) per window.

    Works on any streaming pages source (file, kafka, rate). Uses
    ``dropDuplicatesWithinWatermark`` — with plain ``dropDuplicates`` on a
    key set that excludes the event-time column, Spark never evicts
    dedup state and it grows one row per hash ever seen; the
    within-watermark variant evicts each key after the watermark delay,
    so state is genuinely bounded — the scale-safe default for unbounded
    input (duplicates farther apart than the delay re-emit, which is the
    documented windowed-dedup contract, not a bug).
    """
    extracted = extract_pages(pages_stream)  # emits content_hash directly
    return (
        extracted.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def streaming_url_dedup(
    pages_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Within-watermark URL-level dedup: one row per canonical URL.

    The streaming form of the batch `url_dedup` tier — the crawl
    frontier's cheapest duplicate screen, firing BEFORE extraction (the
    content never needs hashing when the canonical URL was already seen
    this window). Normalization is the same codegen projection chain as
    the batch path (functions/urlnorm.py — single source of truth), so
    the streaming and batch tiers can never disagree on what "the same
    URL" means. State is one row per canonical URL seen within the
    watermark delay and is EVICTED after it
    (``dropDuplicatesWithinWatermark`` — see streaming_exact_dedup for
    why plain dropDuplicates would grow state without bound).
    """
    from quarrycore_spark.functions.urlnorm import with_canonical_url

    canon = with_canonical_url(pages_stream)
    return (
        canon.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["canonical_url"])
    )


class ForeachBatchDedup:
    """Cross-batch exact dedup with a persistent seen-hash state table.

    Each micro-batch: canonicalize+hash, drop rows whose hash exists in the
    state of PRIOR epochs (left-anti join), select first-per-hash within the
    batch by (warc_ts, url), overwrite the epoch's output dir and the
    epoch's own state subdir.

    Exactly-once under replay: state lives in per-epoch subdirs
    (``state_dir/epoch=N``) and the anti-join reads every epoch EXCEPT the
    current one — so a replay of epoch N (crash between the state write and
    the streaming checkpoint commit) sees exactly the pre-N state again and
    deterministically rewrites the same output, instead of anti-joining
    against its own first attempt and silently emitting an empty epoch.
    """

    def __init__(self, state_dir: str, out_dir: str):
        self.state_dir = state_dir
        self.out_dir = out_dir
        os.makedirs(state_dir, exist_ok=True)
        os.makedirs(out_dir, exist_ok=True)

    def _state(self, spark: SparkSession, exclude_epoch: int) -> DataFrame | None:
        paths = [
            os.path.join(self.state_dir, d)
            for d in sorted(os.listdir(self.state_dir))
            if d.startswith("epoch=") and d != f"epoch={exclude_epoch}"
        ]
        if not paths:
            return None
        # the schema this class writes: inference would cost one job per epoch
        return spark.read.schema("content_hash string").parquet(*paths)

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window as W

        spark = batch.sparkSession
        hashed = extract_pages(batch)  # emits content_hash directly
        state = self._state(spark, exclude_epoch=epoch_id)
        if state is not None:
            hashed = hashed.join(
                state.select("content_hash"), "content_hash", "left_anti"
            )
        w = W.partitionBy("content_hash").orderBy("warc_ts", "url")
        firsts = (
            hashed.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        firsts = firsts.localCheckpoint()  # compute once for both writes
        firsts.write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"epoch={epoch_id}")
        )
        firsts.select("content_hash").write.mode("overwrite").parquet(
            os.path.join(self.state_dir, f"epoch={epoch_id}")
        )


def streaming_lsh_pairs(
    docs_stream: DataFrame,
    cfg=None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Stateful streaming near-dup detection via ``applyInPandasWithState``
    — the Structured Streaming expression of the reference's Redis LSH
    query-before-insert protocol (minhash_redis.py:228-242): each LSH band
    bucket is a state group holding the (doc_id, signature) members seen so
    far; every arriving doc is verified against the bucket's members and
    then inserted, so pairs are emitted exactly when the later duplicate
    arrives — across micro-batches, without a batch-global self-join.

    Output: append-mode (a_id, b_id, agree_cnt) verified at the batch
    operator's integer threshold (agree·100 ≥ num_perm·threshold_pct);
    the same pair found via k buckets is emitted k times — downstream
    dropDuplicates is the consumer's choice (kept out so the operator
    stays watermark-free).

    State per bucket is capped at ``config.LSH_BUCKET_CAP`` members — the
    streaming analogue of the batch bucket cap (``lsh.capped``): once a
    bucket REACHES the cap it is treated as a boilerplate mega-bucket and
    goes inert (no further inserts AND no further pair emission, matching
    the batch operator's drop-the-bucket guard). One semantic difference from batch is inherent to streaming:
    pairs emitted before the bucket hit the cap are already downstream and
    cannot be retracted, whereas the batch operator drops the whole bucket
    retroactively.

    ``state_ttl_ms`` bounds state for long-running streams: bucket state
    idle longer than the TTL is evicted via processing-time timeout, so
    total state plateaus at (buckets touched within one TTL window) × cap
    instead of growing with the key space forever. Docs arriving after
    their bucket expired re-seed an empty bucket — pairs spanning more
    than the TTL are missed, the standard state-retention trade
    (None = the reference's Redis protocol, which also never expires).
    The plateau is pinned by
    tests/test_streaming_multimodal.py::test_streaming_lsh_state_plateaus_under_ttl.

    Sizing the TTL for a Common-Crawl-style ingest: near-dups cluster
    within a crawl segment (same site re-crawled, boilerplate shared
    within a dump), so set the TTL to 2–4× the segment ingest interval —
    e.g. hourly WARC batches → TTL 2–4 h. State then plateaus at
    (buckets touched per TTL window) × up to cap members × ~(8·num_perm)
    bytes per member; with 128 perms that is ≈ 1 KB per stored doc-entry,
    so a window touching 10⁸ buckets with mean occupancy ~1 costs
    ≈ 100 GB across the cluster's state stores — set the TTL window, not
    the key space, to fit the executors' state budget.
    """
    import numpy as np
    import pandas as pd

    from quarrycore_spark import config
    from quarrycore_spark.operators.lsh import _MAX_BANDS
    from quarrycore_spark.operators.signatures import with_signatures

    cfg = cfg or config.DEFAULT_CONFIG
    cap = config.LSH_BUCKET_CAP
    num_perm = cfg.num_perm
    thr = cfg.jaccard_threshold_pct

    sigs = with_signatures(docs_stream, cfg, family="poly")
    bands = sigs.select(
        "doc_id", "sig", F.posexplode("bands").alias("band_idx", "band_hash")
    ).select(
        "doc_id",
        "sig",
        # cast before folding: band hashes are int32 residues (SIG_SCHEMA)
        (F.col("band_hash").cast("long") * _MAX_BANDS + F.col("band_idx")).alias("bkey"),
    )

    def update(key, pdfs, state):
        if state_ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict the bucket, emit nothing
            state.remove()
            return
        if state.exists:
            ids_l, sig_flat = state.get
            ids = list(ids_l)
            mat = np.asarray(sig_flat, dtype=np.int64).reshape(-1, num_perm)
        else:
            ids = []
            mat = np.empty((0, num_perm), dtype=np.int64)
        out_a, out_b, out_c = [], [], []
        for pdf in pdfs:
            # deterministic arrival order inside the batch
            pdf = pdf.sort_values("doc_id")
            for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
                if len(ids) >= cap:
                    break  # mega-bucket: inert — no inserts, no pairs
                if doc_id in ids:
                    continue  # replayed row
                s = np.asarray(sig, dtype=np.int64)
                if len(ids):
                    agree = (mat == s[None, :]).sum(axis=1)
                    hits = np.flatnonzero(agree * 100 >= num_perm * thr)
                    for h in hits:
                        a, b = sorted((int(ids[h]), int(doc_id)))
                        out_a.append(a)
                        out_b.append(b)
                        out_c.append(int(agree[h]))
                ids.append(int(doc_id))
                mat = np.vstack([mat, s[None, :]])
        state.update((ids, [int(x) for x in mat.ravel()]))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if out_a:
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b, "agree_cnt": out_c})

    from pyspark.sql.streaming.state import GroupStateTimeout

    return bands.groupBy("bkey").applyInPandasWithState(
        update,
        outputStructType="a_id long, b_id long, agree_cnt long",
        stateStructType="ids array<long>, sig_flat array<long>",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
