"""Multimodal oracle surface: a CORRECTNESS-checked query over the real
image decode + perceptual-hash path.

The driver ships no media table, so `media_phash_pairs` derives one
deterministically from `documents.doc_id`: each doc becomes a synthetic
9×8 24-bit BMP whose pixels follow a closed-form integer formula of
(doc_id, x, y). The SPARK side renders the BMP bytes, decodes them with
the REAL kernel (multimodal/codecs.decode_bmp → dhash64 — the path the
reference's pipeline would run on crawled images), and pairs near-dup
hashes with the pigeonhole band join. The DUCKDB oracle computes the same
64-bit dHash arithmetically from the pixel formula (no decode) and joins
all pairs at hamming <= HAMMING_MAX with both endpoints in identical-hash
classes of size <= CLASS_CAP — pigeonhole guarantees the band join
finds every such pair, and the Spark side bands over DISTINCT hash values
(at most 97×8 = 776 here, whatever the doc count) before expanding back
through identical-hash classes, so the two definitions are exactly
equivalent at every scale factor — no bucket can approach the cap however
many documents share a hash (pinned by
tests/test_streaming_multimodal.py::test_phash_pairs_match_allpairs_at_scale
at 20k docs).

Pixel formula (RGB all equal; 9 columns × 8 rows):
    g = doc_id % 97                 (dup-group: same g ⇒ same base image)
    t = (doc_id // 97) % 8          (variant: one boosted column)
    p(x, y) = 0                                        if x == 8
            = (g*37 + 11*x + 5*y + (13 if x==t else 0)) % 241   otherwise
Column 8 is all-zero so dHash bit x=7 of each row is 0 — bit 63 is never
set and the hash stays non-negative (no signed-shift pitfalls in SQL).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from quarrycore_spark.functions.dialect import SPARK
from quarrycore_spark.plans.registry import Query, register

W, H = 9, 8
HAMMING_MAX = 7
# Identical-phash classes above this size are excluded from pair expansion
# entirely (media.phash_near_dup_pairs class_cap) — encoded in BOTH dialects
# below so the oracle equivalence is by construction, not by the test data
# happening to stay small (class size here ≈ docs/776, so the cap never
# fires at test scale, but the rule is part of the checked definition).
CLASS_CAP = 1000


def pixel_grid(doc_id: int) -> np.ndarray:
    """(H, W) uint8 grayscale values of the synthetic image — the single
    source of truth both the BMP renderer and the SQL oracle mirror."""
    g = doc_id % 97
    t = (doc_id // 97) % 8
    x = np.arange(W)[None, :]
    y = np.arange(H)[:, None]
    p = (g * 37 + 11 * x + 5 * y + np.where(x == t, 13, 0)) % 241
    p[:, W - 1] = 0
    return p.astype(np.uint8)


def render_bmp(doc_id: int) -> bytes:
    """Uncompressed 24-bit bottom-up BMP of pixel_grid(doc_id)."""
    p = pixel_grid(doc_id)
    stride = (W * 3 + 3) & ~3
    rows = bytearray()
    for yy in range(H - 1, -1, -1):  # bottom-up
        row = bytearray()
        for xx in range(W):
            v = int(p[yy, xx])
            row += bytes((v, v, v))  # BGR, equal channels
        row += b"\x00" * (stride - len(row))
        rows += row
    data_off = 54
    size = data_off + len(rows)
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", size, 0, 0, data_off,
        40, W, H, 1, 24, 0, len(rows), 2835, 2835, 0, 0,
    )
    return bytes(header) + bytes(rows)


def _media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": ["image"] * len(ids),
                    "payload": [render_bmp(int(i)) for i in ids],
                    "meta": [
                        {"mime": "image/bmp", "width": W, "height": H,
                         "duration_ms": None}
                        for _ in ids
                    ],
                }
            )

    from quarrycore_spark.multimodal.media import MEDIA_SCHEMA

    from quarrycore_spark.operators._partitioning import spread

    return spread(docs).mapInPandas(gen, schema=MEDIA_SCHEMA)


def _spark_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quarrycore_spark.multimodal.media import (
        extract_media_features,
        phash_near_dup_pairs,
    )

    feats = extract_media_features(_media_frame(spark, sf_dir))
    return phash_near_dup_pairs(
        feats, hamming_max=HAMMING_MAX, class_cap=CLASS_CAP
    ).select("a_id", "b_id", "hamming")


def _pix_sql(x_expr: str, y_expr: str, div: str) -> str:
    """SQL for pixel_grid's value at (x, y) — integer ops only (doc_id is
    non-negative, so % behaves identically in both engines); `div` is the
    dialect's integer division (Spark `div`, DuckDB `//`)."""
    return (
        f"(CASE WHEN {x_expr} = {W - 1} THEN 0 ELSE "
        f"((doc_id % 97) * 37 + 11 * ({x_expr}) + 5 * ({y_expr}) "
        f"+ (CASE WHEN ({x_expr}) = ((doc_id {div} 97) % 8) THEN 13 ELSE 0 END)"
        f") % 241 END)"
    )


def _media_phash_pairs(dialect: str) -> str:
    # dHash bit i (i = y*8 + x, x<8): p(x+1, y) > p(x, y). Bit 63 is always
    # 0 (column 8 is zero), so summing bits 0..62 reproduces dhash64's
    # signed-int64 reinterpretation exactly.
    if dialect == SPARK:
        bits = (
            "aggregate(transform(sequence(0, 62), i -> CASE WHEN "
            + _pix_sql("(i % 8) + 1", "i div 8", "div")
            + " > "
            + _pix_sql("i % 8", "i div 8", "div")
            + " THEN shiftleft(1L, i) ELSE 0L END), 0L, (acc, v) -> acc + v)"
        )
        ham = "bit_count(a.phash ^ b.phash)"
    else:
        bits = (
            "list_sum(list_transform(range(0, 63), i -> CASE WHEN "
            + _pix_sql("(i % 8) + 1", "i // 8", "//")
            + " > "
            + _pix_sql("i % 8", "i // 8", "//")
            + " THEN (1::BIGINT << i) ELSE 0::BIGINT END))::BIGINT"
        )
        ham = "bit_count(xor(a.phash, b.phash))::BIGINT"
    return f"""
WITH _m AS (SELECT doc_id, {bits} AS phash FROM documents),
_c AS (SELECT doc_id, phash, count(*) OVER (PARTITION BY phash) AS csz FROM _m)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, {ham} AS hamming
FROM _c a JOIN _c b ON a.doc_id < b.doc_id
WHERE {ham} <= {HAMMING_MAX} AND a.csz <= {CLASS_CAP} AND b.csz <= {CLASS_CAP}
"""


register(
    Query(
        "media_phash_pairs",
        "multimodal: real BMP decode → 64-bit dHash → pigeonhole near-dup "
        "pairs (image analogue of the SimHash stage) over a deterministic "
        "synthetic media table derived from documents",
        _media_phash_pairs,
        spark_fn=_spark_media_phash_pairs,
        tables=("documents",),
    )
)
