"""Streaming dedup + multimodal plumbing + exporter tests."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from quarrycore_spark.sources.corpus import generate_pages, pages_dataframe


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_pages") / "pages")
    rows = generate_pages(200, seed=7)
    pages_dataframe(spark, rows).write.mode("overwrite").parquet(path)
    return path, rows


def test_streaming_watermark_dedup(spark, pages_parquet, tmp_path):
    from quarrycore_spark.streaming.dedup_stream import streaming_exact_dedup

    path, rows = pages_parquet
    static = spark.read.parquet(path)
    stream = spark.readStream.schema(static.schema).parquet(path)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select count(*) n, count(distinct content_hash) d from dedup_out").collect()[0]
    expected_hashes = (
        static.selectExpr("sha2(lower(trim(regexp_replace(cast(html as string), '<[^>]+>|\\\\s+', ' '))), 256)")
    )
    # one row per distinct content hash, no duplicates in the output
    assert got["n"] == got["d"]
    assert got["n"] < len(rows)  # corpus contains dup groups


def test_streaming_url_dedup_canonical_groups(spark, tmp_path):
    from quarrycore_spark.streaming.dedup_stream import streaming_url_dedup

    # 3 messy variants per canonical URL x 40 groups: www prefix, default
    # port, fragment, and tracking params must all collapse in-stream.
    rows = []
    ts = "2025-01-01 00:00:{:02d}"
    for g in range(40):
        host = f"site{g % 5}.example.com"
        path = f"/a/post-{g}"
        rows += [
            (3 * g, f"http://{host}{path}", ts.format(g % 60)),
            (3 * g + 1, f"http://www.{host}{path}#frag", ts.format(g % 60)),
            (3 * g + 2, f"http://{host}:80{path}?utm_source=x",
             ts.format(g % 60)),
        ]
    df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts string")
    df = df.withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "urls")
    df.write.mode("overwrite").parquet(path)
    static = spark.read.parquet(path)
    stream = spark.readStream.schema(static.schema).parquet(path)
    q = (
        streaming_url_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("url_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck_url"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "select count(*) n, count(distinct canonical_url) d from url_dedup_out"
    ).collect()[0]
    assert got.n == 40  # one survivor per canonical group
    assert got.d == 40
    # and the canonical forms carry none of the messy noise
    urls = [r.canonical_url for r in spark.sql(
        "select canonical_url from url_dedup_out").collect()]
    for u in urls:
        assert "www." not in u and "#" not in u and "utm_" not in u
        assert ":80" not in u


def test_foreach_batch_cross_batch_dedup(spark, pages_parquet, tmp_path):
    from quarrycore_spark.streaming.dedup_stream import ForeachBatchDedup

    path, rows = pages_parquet
    static = spark.read.parquet(path)
    halves = static.randomSplit([0.5, 0.5], seed=1)
    sink = ForeachBatchDedup(str(tmp_path / "state"), str(tmp_path / "out"))
    # drive two "micro-batches" directly (deterministic, no stream race)
    sink(halves[0], 0)
    sink(halves[1], 1)
    out = spark.read.parquet(str(tmp_path / "out" / "epoch=*"))
    n = out.count()
    d = out.select("content_hash").distinct().count()
    assert n == d, "a hash emitted twice across batches"
    # equals batch-mode exact dedup of the full corpus
    from quarrycore_spark.extraction.canonical import extract_pages

    full = extract_pages(static).select("content_hash").distinct().count()
    assert n == full
    # replay idempotence: rerunning epoch 1 (crash-after-state-write
    # scenario) must NOT anti-join against its own state — the epoch dir is
    # rewritten with the identical survivor set, never emptied
    before = sorted(
        r["content_hash"]
        for r in spark.read.parquet(str(tmp_path / "out" / "epoch=1")).collect()
    )
    sink(halves[1], 1)
    after = sorted(
        r["content_hash"]
        for r in spark.read.parquet(str(tmp_path / "out" / "epoch=1")).collect()
    )
    assert before == after and len(after) > 0


def test_multimodal_features_and_dedup(spark):
    """Real payloads end to end: an identical BMP pair dedups to one
    canonical, the WAV decodes, and a null payload dead-letters."""
    from quarrycore_spark.multimodal.media import (
        MEDIA_SCHEMA,
        exact_media_dedup,
        extract_media_features,
        real_decode,
    )
    from tests.test_codecs import make_bmp, make_wav, random_img

    bmp = bytearray(make_bmp(random_img(3, 16, 16)))
    data = [
        (1, "image", bmp, ("image/bmp", 16, 16, None)),
        (2, "image", bmp, ("image/bmp", 16, 16, None)),  # dup
        (3, "audio", bytearray(make_wav()), ("audio/wav", None, None, 100)),
        (4, "video", None, ("video/mp4", 16, 16, 5000)),  # null payload
    ]
    feats = extract_media_features(spark.createDataFrame(data, MEDIA_SCHEMA))
    by_id = {r["media_id"]: r for r in feats.collect()}
    assert by_id[1]["sha256"] == by_id[2]["sha256"]
    assert by_id[1]["feature"] == by_id[2]["feature"]
    assert by_id[1]["phash"] == by_id[2]["phash"] is not None
    assert by_id[1]["sha256"] != by_id[3]["sha256"]
    assert len(by_id[1]["feature"]) == 16
    assert by_id[1]["decode_error"] is None
    assert by_id[3]["decode_error"] is None
    assert any(abs(x) > 0 for x in by_id[3]["feature"])
    assert by_id[4]["decode_error"] is not None and by_id[4]["sha256"] == ""

    dedup = {r["sha256"]: r for r in exact_media_dedup(feats).collect()}
    assert dedup[by_id[1]["sha256"]]["group_size"] == 2
    assert dedup[by_id[1]["sha256"]]["canonical_media_id"] == 1
    assert len(dedup) == 2  # the BMP class and the WAV; dead letters drop

    from quarrycore_spark.multimodal.codecs import UnsupportedMediaError

    with pytest.raises(UnsupportedMediaError):
        real_decode(b"x", "image/png")  # compressed formats need absent libs


def test_exporters(spark, tmp_path):
    from quarrycore_spark.sources.export import (
        export_jsonl,
        export_parquet,
        quality_top_n,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}", i % 100) for i in range(500)],
        "doc_id long, text string, quality_scaled int",
    )
    jp = str(tmp_path / "jsonl")
    export_jsonl(df, jp)
    assert glob.glob(os.path.join(jp, "*.json.gz"))
    assert spark.read.json(jp).count() == 500

    pp = str(tmp_path / "parq")
    export_parquet(df, pp, shard_size=100)
    assert spark.read.parquet(pp).count() == 500

    top = quality_top_n(df, 10).collect()
    assert len(top) == 10 and all(r["quality_scaled"] == 99 for r in top[:5])


def test_real_decode_features_and_phash_pairs(spark):
    """Real-decode path: WAV/BMP/PPM payloads decode natively; the same
    image in two container formats gets the identical perceptual hash; a
    one-pixel near-dup pairs up via the banded dHash join; unsupported
    formats dead-letter."""
    import numpy as np

    from quarrycore_spark.multimodal.media import (
        extract_media_features,
        phash_near_dup_pairs,
    )
    from tests.test_codecs import make_bmp, make_ppm, make_wav, random_img

    img = random_img(7, 32, 32)
    near = img.copy()
    near[0, 0] = 255 - near[0, 0]
    rows = [
        (1, "image", bytearray(make_bmp(img)), ("image/bmp", 32, 32, None)),
        (2, "image", bytearray(make_ppm(img)), ("image/ppm", 32, 32, None)),
        (3, "image", bytearray(make_bmp(near)), ("image/bmp", 32, 32, None)),
        (4, "image", bytearray(make_bmp(random_img(8, 32, 32))), ("image/bmp", 32, 32, None)),
        (5, "audio", bytearray(make_wav()), ("audio/wav", None, None, 100)),
        (6, "image", bytearray(b"\x89PNG fake"), ("image/png", 8, 8, None)),
        (7, "video", bytearray(b"mp4 fake"), ("video/mp4", None, None, 5000)),
    ]
    from quarrycore_spark.multimodal.media import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in
             extract_media_features(media).collect()}
    # identical pixels through two formats -> identical phash
    assert feats[1]["phash"] == feats[2]["phash"] is not None
    assert feats[1]["decode_error"] is None
    # audio decodes, has features, no phash
    assert feats[5]["decode_error"] is None and feats[5]["phash"] is None
    assert any(abs(x) > 0 for x in feats[5]["feature"])
    # unsupported formats dead-letter with the reason, job survives
    assert "UnsupportedMediaError" in feats[6]["decode_error"]
    assert "UnsupportedMediaError" in feats[7]["decode_error"]
    # banded perceptual join finds the exact-dup AND the one-pixel near-dup
    pairs = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in phash_near_dup_pairs(
            extract_media_features(media)
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 7
    assert (1, 4) not in pairs


def test_phash_pairs_match_allpairs_at_scale(spark):
    """The banded join must equal the uncapped all-pairs definition at ANY
    doc count when no cap fires. 20,000 docs is the size where row-level
    banding used to blow its bucket cap and silently drop most
    pair-classes; the distinct-hash join + class expansion reproduces the
    arithmetic all-pairs count and hamming checksum exactly (bucket load
    is bounded by the 211 distinct hashes, not the 20k rows). The default
    (class_cap=None) IS the uncapped all-pairs contract — asserted
    first — and a second assertion pins the opt-in class_cap rule:
    with a finite cap, exactly the pairs whose BOTH endpoints sit in
    classes <= cap survive."""
    from collections import Counter

    import numpy as np

    from quarrycore_spark.multimodal.media import phash_near_dup_pairs
    from quarrycore_spark.plans.mediaops import HAMMING_MAX, pixel_grid

    def phash(doc_id: int) -> int:
        p = pixel_grid(doc_id).astype(int)
        h = 0
        for y in range(8):
            for x in range(8):
                if p[y, x + 1] > p[y, x]:
                    h |= 1 << (y * 8 + x)
        return h

    N = 20000
    cache: dict = {}
    hashes = []
    for i in range(N):
        key = (i % 97, (i // 97) % 8)
        if key not in cache:
            cache[key] = phash(i)
        hashes.append(cache[key])

    by_hash = Counter(hashes)
    vals = sorted(by_hash)
    exp_pairs = sum(m * (m - 1) // 2 for m in by_hash.values())  # hamming 0
    exp_hsum = 0
    for ai in range(len(vals)):
        for bi in range(ai + 1, len(vals)):
            h = bin(vals[ai] ^ vals[bi]).count("1")
            if h <= HAMMING_MAX:
                exp_pairs += by_hash[vals[ai]] * by_hash[vals[bi]]
                exp_hsum += h * by_hash[vals[ai]] * by_hash[vals[bi]]

    feats = spark.createDataFrame(
        [(int(i), int(h)) for i, h in enumerate(hashes)],
        "media_id long, phash long",
    )
    got = (
        phash_near_dup_pairs(feats, hamming_max=HAMMING_MAX)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("hamming").alias("hsum"))
        .collect()[0]
    )
    assert got["n"] == exp_pairs
    assert got["hsum"] == exp_hsum

    # class_cap rule: only pairs with BOTH endpoints in classes <= cap
    cap = 500
    capped_exp = sum(
        m * (m - 1) // 2 for m in by_hash.values() if m <= cap
    )
    for ai in range(len(vals)):
        for bi in range(ai + 1, len(vals)):
            if bin(vals[ai] ^ vals[bi]).count("1") <= HAMMING_MAX:
                ma, mb = by_hash[vals[ai]], by_hash[vals[bi]]
                if ma <= cap and mb <= cap:
                    capped_exp += ma * mb
    got_capped = phash_near_dup_pairs(
        feats, hamming_max=HAMMING_MAX, class_cap=cap
    ).count()
    assert got_capped == capped_exp
    assert got_capped < exp_pairs  # the cap genuinely fired at this size


def test_streaming_lsh_state_ttl_evicts_idle_buckets(spark, tmp_path):
    """state_ttl_ms bounds state on long-running streams: a bucket idle
    past the TTL is evicted (processing-time timeout), so a near-dup
    arriving later re-seeds an empty bucket instead of pairing, and the
    state-store row count ends BELOW the no-TTL run's on the identical
    batch sequence (expired buckets left the store)."""
    import time

    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.streaming.dedup_stream import streaming_lsh_pairs

    base = (
        "the quick brown fox jumps over the lazy dog while the crawler "
        "fetches pages and the dedup engine builds minhash signatures "
        "over seven character shingles for near duplicate detection "
    ) * 3
    schema = "doc_id long, text string"
    batches = [
        [(1, base)],
        [(2, "unrelated filler content that advances processing time and "
             "triggers expired-timer eviction for idle buckets " * 4)],
        [(3, base.replace("lazy", "idle"))],  # near-dup of doc 1
    ]

    def run(ttl_ms, name):
        # Continuous query with a 500 ms trigger: with processing-time
        # timeouts the engine schedules timer-check batches even without
        # data, so (a) an untriggered query busy-loops thousands of empty
        # batches, and (b) processAllAvailable never observes quiescence —
        # instead, poll recentProgress until each written file's rows were
        # consumed. Timers registered in phase i fire in whatever batch
        # runs after expiry (usually an empty one during the sleep);
        # groups with no new data in that batch are evicted.
        src = str(tmp_path / f"src_{name}")
        os.makedirs(src, exist_ok=True)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_lsh_pairs(stream, CFG, state_ttl_ms=ttl_ms)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"lsh_ttl_{name}")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )

        def consumed() -> int:
            return int(sum(p["numInputRows"] for p in q.recentProgress))

        expect = 0
        phase_totals = []
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            expect += len(rows)
            t0 = time.time()
            while consumed() < expect:
                assert time.time() - t0 < 120, f"phase {i} rows never consumed"
                time.sleep(0.3)
            time.sleep(1.0)  # let the phase's state commit land in progress
            sts = [
                s["numRowsTotal"]
                for p in q.recentProgress
                for s in p.get("stateOperators") or []
            ]
            phase_totals.append(max(sts) if sts else 0)
            if i == 0 and ttl_ms is not None:
                time.sleep((ttl_ms / 1000) + 1.5)  # let doc 1's timers expire
        removed = sum(
            s.get("numRowsRemoved", 0) or 0
            for p in q.recentProgress
            for s in p.get("stateOperators") or []
        )
        totals = [
            s["numRowsTotal"]
            for p in q.recentProgress
            for s in p.get("stateOperators") or []
        ]
        q.stop()
        pairs = {
            (r["a_id"], r["b_id"])
            for r in spark.sql(f"select * from lsh_ttl_{name}").collect()
        }
        return pairs, removed, totals, phase_totals

    pairs_ttl, removed_ttl, totals_ttl, ph_ttl = run(1500, "on")
    pairs_off, removed_off, _, _ = run(None, "off")
    assert (1, 3) in pairs_off  # control: without TTL the pair surfaces
    assert (1, 3) not in pairs_ttl  # expired bucket no longer matches
    assert removed_ttl > 0  # evicted buckets left the state store
    assert removed_off == 0
    # plateau: eviction keeps the state at ~(live buckets), not the
    # cumulative union of every bucket ever touched
    assert max(totals_ttl) <= 2 * ph_ttl[0] + 2


def test_streaming_lsh_state_plateaus_under_ttl(spark, tmp_path):
    """Soak: push many epochs of FRESH content (new band buckets every
    epoch, the unbounded-key-space shape of a real crawl) with a TTL
    shorter than two epoch intervals. Without TTL, state rows grow
    linearly with epochs (every epoch adds its buckets forever); with
    TTL, earlier epochs' buckets are evicted as later ones arrive, so the
    state-store row count PLATEAUS — the bucket-group count in the final
    epochs must stop growing rather than track the cumulative epoch
    count, and evictions must roughly keep pace with insertions."""
    import time

    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.streaming.dedup_stream import streaming_lsh_pairs

    schema = "doc_id long, text string"
    ttl_ms = 1500
    epochs = 6
    src = str(tmp_path / "soak_src")
    os.makedirs(src, exist_ok=True)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_lsh_pairs(stream, CFG, state_ttl_ms=ttl_ms)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lsh_soak")
        .option("checkpointLocation", str(tmp_path / "soak_ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def consumed() -> int:
        return int(sum(p["numInputRows"] for p in q.recentProgress))

    def state_totals() -> list[int]:
        return [
            s["numRowsTotal"]
            for p in q.recentProgress
            for s in p.get("stateOperators") or []
        ]

    expect = 0
    epoch_state = []
    for e in range(epochs):
        # fresh text every epoch -> an entirely new set of band buckets
        text = (
            f"epoch {e} carries its own vocabulary entirely: "
            + " ".join(f"token{e}x{i}" for i in range(60))
        )
        spark.createDataFrame([(e, text)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        expect += 1
        t0 = time.time()
        while consumed() < expect:
            assert time.time() - t0 < 120, f"epoch {e} rows never consumed"
            time.sleep(0.3)
        time.sleep(1.0)  # let the epoch's state commit land in progress
        sts = state_totals()
        epoch_state.append(max(sts) if sts else 0)
        # idle past the TTL so this epoch's timers can fire before the next
        time.sleep((ttl_ms / 1000) + 1.0)
    removed = sum(
        s.get("numRowsRemoved", 0) or 0
        for p in q.recentProgress
        for s in p.get("stateOperators") or []
    )
    q.stop()

    per_epoch = max(epoch_state[0], 1)  # buckets one epoch contributes
    # Plateau: the final epochs hold ~one-to-two epochs' worth of buckets,
    # not the cumulative sum. Without eviction the last epoch would sit at
    # epochs * per_epoch.
    assert max(epoch_state[-2:]) <= 2 * per_epoch + 2, epoch_state
    assert max(epoch_state) < epochs * per_epoch, epoch_state
    # evictions kept pace: all but the final window's buckets were removed
    assert removed >= (epochs - 2) * per_epoch, (removed, epoch_state)


def test_streaming_lsh_pairs_stateful_cross_batch(spark, tmp_path):
    """applyInPandasWithState LSH: a near-dup pair split across TWO
    micro-batches must surface via bucket state (the streaming analogue of
    the reference's Redis query-before-insert), and the emitted pairs must
    match the batch operator's verified pairs on the same corpus."""
    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.operators.lsh import verified_pairs
    from quarrycore_spark.operators.signatures import with_signatures
    from quarrycore_spark.streaming.dedup_stream import streaming_lsh_pairs

    base = (
        "the quick brown fox jumps over the lazy dog while the crawler "
        "fetches pages and the dedup engine builds minhash signatures "
        "over seven character shingles for near duplicate detection "
    ) * 3
    rows_b1 = [
        (1, base),
        (2, "completely different content about spark adaptive query execution "
            "and shuffle partition coalescing at terabyte scale " * 4),
    ]
    rows_b2 = [
        (3, base.replace("lazy", "idle")),  # near-dup of doc 1
        (4, "yet another unrelated page with its own words entirely " * 6),
    ]
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, text string"
    # one file per micro-batch (maxFilesPerTrigger=1)
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        streaming_lsh_pairs(stream, CFG)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lsh_pairs_out")
        .option("checkpointLocation", str(tmp_path / "ck_lsh"))
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 2, "expected multiple micro-batches"

    got = {
        (r["a_id"], r["b_id"], r["agree_cnt"])
        for r in spark.sql("select * from lsh_pairs_out").collect()
    }
    static = spark.createDataFrame(rows_b1 + rows_b2, schema)
    want = {
        (r["a_id"], r["b_id"], r["agree_cnt"])
        for r in verified_pairs(with_signatures(static, CFG, family="poly"), CFG).collect()
    }
    assert (1, 3) in {(a, b) for a, b, _ in want}, "fixture must contain a near-dup pair"
    assert got == want
