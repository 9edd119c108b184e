"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed by Arrow-batched UDFs.

The reference extracts multimodal payloads into typed lists
(ExtractedContent.tables/images/links — protocols.py:212-220,
content_processors.py). At Spark scale the pattern is: binary column +
STRUCT metadata + mapInPandas feature extractors.

Decode status (see multimodal/codecs.py): WAV, uncompressed BMP and binary
PPM decode FOR REAL with stdlib+numpy kernels (samples/pixels → features +
64-bit perceptual dHash). Compressed formats (JPEG/PNG/MP4/…) require codec
libraries absent from this container and flow to the `decode_error`
dead-letter column.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, sha256 string, "
    "feature array<float>, phash bigint, decode_error string"
)

_FEATURE_DIM = 16

# Band-bucket cap of the phash join. Its buckets hold DISTINCT hashes, not
# media rows, so it is a different value from config.LSH_BUCKET_CAP (2⁵⁶
# per-band diversity would be needed to approach it organically); the
# oracle has no band join, so only the Spark side reads it.
PHASH_BUCKET_CAP = 1000


def real_decode(payload: bytes, mime: str) -> dict:
    """Real decode entry point: WAV/BMP/PPM decode natively
    (multimodal/codecs.py); other formats raise UnsupportedMediaError
    (codec libraries absent from this container)."""
    from quarrycore_spark.multimodal.codecs import decode_media

    return decode_media(payload, mime)


def extract_media_features(media: DataFrame) -> DataFrame:
    """media(media_id, kind, payload, meta) → per-item features.

    Arrow-batched; per-item failures go to `decode_error` (dead-letter
    pattern), never fail the job. Partitioning: decode is CPU-bound, so the
    input is spread to at least defaultParallelism partitions when the
    byte-sized scan gave fewer (no-op at scale); for very heterogeneous
    media, repartition by size bucket first so batches have uniform cost.

    WAV/BMP/PPM decode for real (features + 64-bit perceptual dHash for
    images); unsupported formats dead-letter.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mimes = [
                (m["mime"] if m is not None else None) for m in pdf["meta"]
            ] if "meta" in pdf.columns else [None] * len(pdf)
            n_bytes, digests, feats, phashes, errs = [], [], [], [], []
            for payload, mime in zip(pdf["payload"], mimes):
                raw = bytes(payload) if payload is not None else b""
                try:
                    out = real_decode(raw, mime or "")
                    f = out["feature"]
                    pad = np.zeros(_FEATURE_DIM, dtype=np.float32)
                    pad[: min(len(f), _FEATURE_DIM)] = f[:_FEATURE_DIM]
                    feats.append(pad)
                    phashes.append(out["phash"])
                    n_bytes.append(len(raw))
                    digests.append(hashlib.sha256(raw).hexdigest())
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — dead-letter, not crash
                    feats.append(np.zeros(_FEATURE_DIM, dtype=np.float32))
                    phashes.append(None)
                    n_bytes.append(len(raw))
                    digests.append("")
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_bytes": pd.array(n_bytes, dtype="int64"),
                    "sha256": digests,
                    "feature": feats,
                    "phash": pd.array(phashes, dtype="Int64"),
                    "decode_error": errs,
                }
            )

    from quarrycore_spark.operators._partitioning import spread

    return spread(media).mapInPandas(compute, schema=FEATURE_SCHEMA)


def exact_media_dedup(features: DataFrame) -> DataFrame:
    """Exact multimodal dedup: group by payload sha256 (the binary analogue
    of the text content hash), keep min media_id."""
    from pyspark.sql import functions as F

    return (
        features.filter(F.col("sha256") != "")
        .groupBy("sha256")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count("*").alias("group_size"),
        )
    )


def phash_near_dup_pairs(
    features: DataFrame,
    hamming_max: int = 7,
    class_cap: int | None = None,
) -> DataFrame:
    """Perceptual near-dup image pairs: pigeonhole banding over the 64-bit
    dHash (8 bands of 8 bits ⇒ hamming<=7 implies one band equal) then
    bit_count verify — the image analogue of the SimHash text stage.

    Scale shape: the band join runs over DISTINCT phash VALUES, not media
    rows. Identical-image classes — the common case in a crawl, and what a
    growing corpus piles into each band bucket — collapse to one row each,
    so bucket population is bounded by image DIVERSITY (distinct hashes
    sharing an 8-bit band value), not corpus size. Verified hash pairs
    expand back to media-id pairs through two class joins, and the
    hamming-0 within-class pairs come from a per-class self-join.

    Two deterministic caps bound the output (the same 2..cap discipline as
    every other LSH operator in this repo):

    * ``PHASH_BUCKET_CAP`` — distinct-hash band buckets above it are
      dropped by ``lsh.capped`` (dominant-pattern noise).
    * ``class_cap`` — OPT-IN (default None = uncapped all-pairs, the
      original contract; ADVICE r5 flagged a capped default as a silent
      semantic change for existing callers). When set, identical-phash
      classes above it do not participate in pair expansion AT ALL
      (neither the within-class clique nor the cross-class joins).
      Without a cap, one viral identical image with m = 10⁶ copies emits
      an O(m²) = 5·10¹¹-row clique — the class is boilerplate by
      definition, and downstream dedup handles it via the exact-hash
      star form instead — so scale callers (plans/mediaops.py) pass an
      explicit cap. Trade-off when capped: pairs touching an over-cap
      class are NOT reported here; below both caps the output is
      identical to the uncapped all-pairs definition at any document
      count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from quarrycore_spark.operators._cache import track
    from quarrycore_spark.operators.lsh import capped

    # slim (media_id, phash) projection, persisted: four consumers below
    # (band explode, both class-join sides, within-class self-join) would
    # otherwise each re-run the upstream decode pass. The class_cap filter
    # lands here so over-cap identical-phash classes vanish from every
    # downstream path (band explode included) in one place.
    slim = features.filter(F.col("phash").isNotNull()).select("media_id", "phash")
    if class_cap is not None:
        wc = Window.partitionBy("phash")
        slim = (
            slim.withColumn("csz", F.count(F.lit(1)).over(wc))
            .filter(F.col("csz") <= class_cap)
            .drop("csz")
        )
    classes = track(slim)
    n_bands, width = 8, 8
    mask = (1 << width) - 1
    bands = F.array(
        *[
            (F.shiftright(F.col("phash"), i * width).bitwiseAND(F.lit(mask)))
            for i in range(n_bands)
        ]
    )
    bx = (
        classes.select("phash").distinct()
        .select("phash", F.posexplode(bands).alias("bi", "bv"))
        .select("phash", (F.col("bv") * n_bands + F.col("bi")).alias("bkey"))
    )
    bkt = capped(bx, "bkey", "phash", PHASH_BUCKET_CAP)
    a, b = bkt.alias("a"), bkt.alias("b")
    hash_pairs = (
        a.join(
            b,
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.phash") < F.col("b.phash")),
        )
        .select(
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
            F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash"))).alias("hamming"),
        )
        .dropDuplicates(["pa", "pb"])
        .filter(F.col("hamming") <= hamming_max)
    )
    ca, cb = classes.alias("ca"), classes.alias("cb")
    cross = (
        ca.join(hash_pairs, F.col("ca.phash") == F.col("pa"))
        .join(cb, F.col("cb.phash") == F.col("pb"))
        .select(
            F.least("ca.media_id", "cb.media_id").alias("a_id"),
            F.greatest("ca.media_id", "cb.media_id").alias("b_id"),
            "hamming",
        )
    )
    within = (
        ca.join(
            cb,
            (F.col("ca.phash") == F.col("cb.phash"))
            & (F.col("ca.media_id") < F.col("cb.media_id")),
        )
        .select(
            F.col("ca.media_id").alias("a_id"),
            F.col("cb.media_id").alias("b_id"),
            F.bit_count(F.col("ca.phash").bitwiseXOR(F.col("cb.phash"))).alias("hamming"),
        )
    )
    return cross.unionByName(within)
