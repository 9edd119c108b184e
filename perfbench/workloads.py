"""The workloads. Each one is a closed loop driven from one thread of one
driver process at local[cores]: the next operation starts when the
previous one has finished.

A workload run has three phases:

1. inputs and expected outputs are generated from the seed (untimed, not
   part of setup_s);
2. set-up: session start plus one untimed cold pass of the workload's
   operations (setup_s);
3. the measured passes: a fixed amount of work per --seconds, so every run
   of a workload does identical work.

With --trace 1 the run then re-runs each layer's public function on the
previous stage's checkpoint parquet, materialised through the noop sink,
one span per layer, and reads Spark's status store for each span.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

import pyarrow.parquet as pq

from perfbench import corpus, harness, reference

REGISTRY_QUERIES = [
    "trigram_jaccard_pairs",
    "doc_fingerprints",
    "embedding_dup_pairs",
    "ann_topk",
    "media_phash_pairs",
]


@dataclass
class Outcome:
    """What a workload run measured and checked."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)  # failed checks and guards
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def _passes(seconds: int, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


def _read(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns).to_pylist()


# ---------------------------------------------------------------------------
# crawl: the checkpointed pipeline
# ---------------------------------------------------------------------------


@dataclass
class CrawlSpec:
    mix: str
    docs: int
    nominal_pass_s: float
    above_cutoff: bool  # CC input must exceed small_graph_edges
    mirror_copies: tuple[int, int] = (2, 4)
    family: tuple[int, int] = (2, 3)


CRAWL = {
    "crawl-unique": CrawlSpec("unique", 1000, 10.0, above_cutoff=False),
    # Not in BENCHMARK.json (see README): over 100k CC edges costs more
    # per run than the benchmark's run budget allows a fourth workload.
    "crawl-dupheavy": CrawlSpec("dupheavy", 110_000, 30.0, above_cutoff=True, mirror_copies=(30, 60), family=(4, 6)),
}


def _cc_cutoff() -> int:
    from quarrycore_spark.operators.cc import connected_components

    return inspect.signature(connected_components).parameters["small_graph_edges"].default


def _check_crawl_pass(out_dir: str, pages, ref_pairs, negatives, oc: Outcome, label: str) -> dict:
    """Recall, false merges and CC input size of one pipeline pass, from
    its output parquet (no Spark jobs)."""
    rows = _read(os.path.join(out_dir, "docs_dedup"), ["url", "doc_id", "cluster_id", "content_hash", "duplicate_type"])
    cluster = {r["url"]: r["cluster_id"] for r in rows}
    ok = oc.check(len(rows) == len(pages) and len(cluster) == len(pages), f"{label}: docs_dedup has {len(rows)} rows for {len(pages)} pages")
    ci = [cluster.get(p.url) for p in pages]
    found = sum(1 for i, j in ref_pairs if ci[i] is not None and ci[i] == ci[j])
    merged = sum(1 for i, j in negatives if ci[i] is not None and ci[i] == ci[j])
    recall = found / len(ref_pairs)
    separation = 1.0 - merged / len(negatives)
    ok &= oc.check(recall >= 0.99, f"{label}: dup-pair recall {recall:.4f} < 0.99")
    ok &= oc.check(separation >= 0.99, f"{label}: {merged}/{len(negatives)} negative pairs merged")
    # the CC input, rebuilt the way the pipeline builds it: exact star
    # edges (member -> canonical of its content hash) plus both pair kinds
    canon = {r["content_hash"]: r["doc_id"] for r in rows if r["duplicate_type"] != "exact"}
    edges = {(r["doc_id"], canon[r["content_hash"]]) for r in rows if r["duplicate_type"] == "exact"}
    edges |= {(r["a_id"], r["b_id"]) for r in _read(os.path.join(out_dir, "pairs"), ["a_id", "b_id"])}
    edges = {e for e in edges if e[0] != e[1]}
    return {"recall": recall, "separation": separation, "cc_edges": len(edges), "ok": ok}


def run_crawl(name: str, seed: int, seconds: int, trace: bool, work: harness.Work, oc: Outcome) -> None:
    from quarrycore_spark.plans.pipeline import run_pipeline

    spec = CRAWL[name]
    pages = corpus.crawl_pages(spec.mix, spec.docs, seed, spec.mirror_copies, spec.family)
    pages_path = work.path("pages.parquet")
    corpus.write_pages(pages, pages_path)
    ref_pairs = reference.crawl_reference(pages)
    negatives = reference.negative_pairs(pages)
    cutoff = _cc_cutoff()
    oc.detail.update(docs=len(pages), reference_pairs=len(ref_pairs), negative_pairs=len(negatives), cc_cutoff=cutoff)

    klog = work.path("klog", "k") if trace else None
    if klog:
        os.makedirs(os.path.dirname(klog))
    t0 = time.time()
    spark, settings = harness.start_session(work, f"perfbench-{name}", {"SPARK_GRAFT_KERNEL_LOG": klog} if klog else None)
    oc.detail["settings"] = settings
    pages_df = spark.read.parquet(pages_path)
    cold = work.path("out-cold")
    run_pipeline(spark, pages_df, cold, resume=False)
    setup_s = time.time() - t0
    _check_crawl_pass(cold, pages, ref_pairs, negatives, oc, "cold pass")
    shutil.rmtree(cold)
    if klog:
        harness.kernel_log_totals(klog, "ext")
        harness.kernel_log_totals(klog, "sig")

    walls, recalls, seps, edges = [], [], [], []
    windows = []
    for i in range(_passes(seconds, spec.nominal_pass_s)):
        out = work.path(f"out-{i}")
        t = time.time()
        res = run_pipeline(spark, pages_df, out, resume=False)
        t1 = time.time()
        walls.append(t1 - t)
        oc.detail.setdefault("stage_walls_s", []).append({m["stage"]: m["wall_s"] for m in res.metrics if "wall_s" in m})
        windows.append((t, t1))
        oc.attempted += 1
        got = _check_crawl_pass(out, pages, ref_pairs, negatives, oc, f"pass {i}")
        oc.failed += not got["ok"]
        recalls.append(got["recall"])
        seps.append(got["separation"])
        edges.append(got["cc_edges"])
        shutil.rmtree(out)
    if spec.above_cutoff:
        oc.check(min(edges) > cutoff, f"shape: CC input {min(edges)} edges does not exceed small_graph_edges={cutoff}")
    else:
        oc.check(max(edges) <= cutoff, f"shape: CC input {max(edges)} edges exceeds small_graph_edges={cutoff}")
    oc.detail.update(pass_walls_s=walls, cc_edges=edges[0])

    # best of the measured passes: host load only ever slows a pass
    docs_per_s = len(pages) / min(walls)
    t_val, t_pct, t_n = harness.tail(walls)
    oc.detail["step_tail"] = {"value": t_val, "percentile": t_pct, "samples": t_n}
    oc.put("docs_per_s", docs_per_s, "docs/s")
    oc.put("step_ms_p50", 1000 * median(walls), "ms")
    oc.put("dup_pair_recall", min(recalls), "ratio")
    oc.put("merge_precision", min(seps), "ratio")
    oc.put("setup_s", setup_s, "s")
    if trace:
        _trace_crawl(spark, spec, pages, pages_path, work, klog, windows, docs_per_s, oc)


def _noop(df, obs=None):
    """Materialise df through the noop sink; with an Observation, count
    its rows on the way."""
    from pyspark.sql import functions as F

    if obs is not None:
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    return int(obs.get["n"]) if obs is not None else None


def _trace_crawl(spark, spec, pages, pages_path, work, klog, windows, docs_per_s, oc: Outcome) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from quarrycore_spark.config import DEFAULT_CONFIG as CFG
    from quarrycore_spark.extraction.canonical import extract_pages
    from quarrycore_spark.operators.cc import connected_components
    from quarrycore_spark.operators.lsh import candidate_pairs, verified_pairs
    from quarrycore_spark.operators.signatures import with_signatures
    from quarrycore_spark.operators.simhash import simhash_pairs
    from quarrycore_spark.operators.substring import substring_extents, winnow_doc_pairs
    from quarrycore_spark.plans.pipeline import final_table, run_pipeline

    tr = harness.Tracer()
    ss = harness.StatusStore(spark)
    n = harness.cores()
    out = work.path("out-traced")
    with tr.span("pipeline", docs=len(pages)) as sp_pipe:
        res = run_pipeline(spark, spark.read.parquet(pages_path), out, resume=False)
    traced_docs_per_s = len(pages) / tr.wall(sp_pipe)
    stage_rows = {m["stage"]: m.get("rows") for m in res.metrics}
    ckpt_mb = harness.dir_mb(out)
    harness.kernel_log_totals(klog, "ext")
    harness.kernel_log_totals(klog, "sig")

    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    sigs = spark.read.parquet(os.path.join(out, "signatures"))
    pairs = spark.read.parquet(os.path.join(out, "pairs"))
    dd = spark.read.parquet(os.path.join(out, "docs_dedup"))
    clusters = spark.read.parquet(os.path.join(out, "clusters"))
    survivors = sigs.select("doc_id").join(extracted.select("doc_id", F.col("extracted_text").alias("text")), "doc_id")
    par = spark.sparkContext.defaultParallelism
    src = spark.read.parquet(pages_path)
    src = src if src.rdd.getNumPartitions() >= par else src.repartition(par)

    with tr.span("extraction") as sp:
        sp["attrs"]["rows"] = _noop(extract_pages(src).withColumn("doc_id", F.xxhash64("url")), Observation("ext"))
    ext_docs, ext_s = harness.kernel_log_totals(klog, "ext")
    with tr.span("signatures") as sp:
        _noop(with_signatures(survivors, CFG, family="poly"))
    sig_docs, sig_s = harness.kernel_log_totals(klog, "sig")
    with tr.span("lsh") as sp_lsh:
        sp_lsh["attrs"]["verified"] = _noop(verified_pairs(sigs, CFG), Observation("lsh"))
    with tr.span("lsh.candidates") as sp:
        sp["attrs"]["candidates"] = candidate_pairs(sigs).count()
    with tr.span("simhash") as sp_sh:
        sp_sh["attrs"]["pairs"] = _noop(simhash_pairs(sigs, CFG), Observation("sh"))
    mo = CFG.min_overlap
    with tr.span("substring") as sp_sub:
        cand = winnow_doc_pairs(survivors, mo, id_col="doc_id", text_col="text")
        sp_sub["attrs"]["extents"] = _noop(substring_extents(survivors, cand, mo, id_col="doc_id", text_col="text"), Observation("sub"))
    with tr.span("substring.candidates") as sp:
        sp["attrs"]["candidates"] = winnow_doc_pairs(survivors, mo, id_col="doc_id", text_col="text").count()
    # CC input as the pipeline builds it: exact star edges + both pair kinds
    canon = dd.filter("duplicate_type != 'exact'").select("content_hash", F.col("doc_id").alias("v"))
    exact_edges = dd.filter("duplicate_type = 'exact'").select("content_hash", F.col("doc_id").alias("u")).join(canon, "content_hash").select("u", "v")
    edges = exact_edges.union(pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))).distinct()
    with tr.span("cc") as sp_cc:
        _noop(connected_components(edges, dd.select("doc_id")))
    with tr.span("cc.edges") as sp:
        sp["attrs"]["edges"] = edges.filter("u != v").count()
    docs = dd.select("doc_id", "url", "warc_ts", "content_hash", (F.col("duplicate_type") != "exact").alias("is_exact_canonical"))
    mh = pairs.filter(F.col("kind") == "minhash")
    sh = pairs.filter(F.col("kind") == "simhash")
    with tr.span("final_table") as sp_final:
        _noop(final_table(extracted, docs, clusters, mh, sh, CFG))
    shutil.rmtree(out)

    jobs = ss.jobs()
    win = {s["name"]: ss.window(jobs, s["start"], s["end"], n) for s in tr.spans}
    for s in tr.spans:
        s["attrs"]["spark"] = win[s["name"]]
    spans = {s["name"]: s for s in tr.spans}
    cand = spans["lsh.candidates"]["attrs"]["candidates"]
    sub_cand = spans["substring.candidates"]["attrs"]["candidates"]
    survivors_n = stage_rows.get("signatures") or 0
    cc_jobs = win["cc"]["jobs"]
    if spec.above_cutoff:
        oc.check(cc_jobs >= 5, f"shape: connected_components ran {cc_jobs} jobs; the large-star/small-star path was not taken")

    put = oc.put
    put("extraction.wall_s", tr.wall(spans["extraction"]), "s")
    put("extraction.kernel_us_per_doc", 1e6 * ext_s / max(ext_docs, 1), "us")
    put("extraction.rows", spans["extraction"]["attrs"]["rows"], "count")
    put("exact.survivors", survivors_n, "count")
    put("exact.edges", (stage_rows.get("extracted") or 0) - survivors_n, "count")
    put("signatures.wall_s", tr.wall(spans["signatures"]), "s")
    put("signatures.kernel_us_per_doc", 1e6 * sig_s / max(sig_docs, 1), "us")
    put("lsh.wall_s", tr.wall(sp_lsh), "s")
    put("lsh.candidate_pairs", cand, "count")
    put("lsh.verified_pairs", sp_lsh["attrs"]["verified"], "count")
    put("lsh.verify_yield", sp_lsh["attrs"]["verified"] / cand if cand else 0.0, "ratio")
    put("lsh.shuffle_mb", win["lsh"]["shuffle_mb"], "MB")
    put("simhash.wall_s", tr.wall(sp_sh), "s")
    put("simhash.pairs", sp_sh["attrs"]["pairs"], "count")
    put("simhash.shuffle_mb", win["simhash"]["shuffle_mb"], "MB")
    put("substring.wall_s", tr.wall(sp_sub), "s")
    put("substring.candidate_pairs", sub_cand, "count")
    put("substring.extents", sp_sub["attrs"]["extents"], "count")
    put("substring.verify_yield", sp_sub["attrs"]["extents"] / sub_cand if sub_cand else 0.0, "ratio")
    put("substring.shuffle_mb", win["substring"]["shuffle_mb"], "MB")
    put("cc.wall_s", tr.wall(sp_cc), "s")
    put("cc.edges", spans["cc.edges"]["attrs"]["edges"], "count")
    put("cc.spark_jobs", cc_jobs, "count")
    put("pipeline.final_wall_s", tr.wall(sp_final), "s")
    put("pipeline.checkpoint_mb", ckpt_mb, "MB")
    put("pipeline.spark_jobs", win["pipeline"]["jobs"], "count")
    _put_spark(oc, ss, jobs, windows, n)
    put("trace.docs_per_s_ratio", traced_docs_per_s / docs_per_s, "ratio")
    oc.detail["trace"] = tr


def _put_spark(oc: Outcome, ss, jobs, windows, n_cores) -> None:
    """Whole-workload Spark counters over the measured passes."""
    per = [ss.window(jobs, a, b, n_cores) for a, b in windows]
    wall = sum(b - a for a, b in windows)
    oc.put("spark.shuffle_mb", sum(p["shuffle_mb"] for p in per) / len(per), "MB")
    oc.put("spark.spill_mb", sum(p["spill_mb"] for p in per) / len(per), "MB")
    oc.put("spark.task_skew_max", max(p["task_skew_max"] for p in per), "ratio")
    oc.put("spark.core_busy_share", sum(p["task_run_s"] for p in per) / (n_cores * wall), "ratio")
    oc.put("spark.gc_s", sum(p["gc_s"] for p in per) / len(per), "s")


# ---------------------------------------------------------------------------
# stream: file-source Structured Streaming into ForeachBatchDedup
# ---------------------------------------------------------------------------

STREAM_PER_EPOCH = 1000
# two cold epochs: the first has no prior state, the second is the first
# to compile and run the anti-join against it
STREAM_WARM_EPOCHS = 2
STREAM_NOMINAL_EPOCH_S = 1.0


def _write_epochs(batches, in_dir: str) -> None:
    """One parquet file per epoch, with strictly increasing modification
    times: the file source takes the oldest file first, so file i is
    micro-batch i."""
    os.makedirs(in_dir)
    base = time.time() - len(batches) - 10
    for i, batch in enumerate(batches):
        p = os.path.join(in_dir, f"epoch-{i:05d}.parquet")
        corpus.write_pages(batch, p)
        os.utime(p, (base + i, base + i))


def _run_stream(spark, in_dir: str, run_dir: str) -> tuple[list[dict], list[tuple[float, float]]]:
    """Run the file-source stream over every file in in_dir, one file per
    trigger, and return (progress per batch, (start, end) of each
    foreachBatch call)."""
    from quarrycore_spark.streaming.dedup_stream import ForeachBatchDedup

    sink = ForeachBatchDedup(os.path.join(run_dir, "state"), os.path.join(run_dir, "out"))
    calls: list[tuple[float, float]] = []

    def batch(df, epoch_id):
        t = time.time()
        sink(df, epoch_id)
        calls.append((t, time.time()))

    schema = spark.read.parquet(in_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(batch)
        .option("checkpointLocation", os.path.join(run_dir, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    return progress, calls


def _state_rows(run_dir: str, epochs: int) -> tuple[list[int], list[int]]:
    """(rows, parquet files) of each epoch's state directory."""
    rows, files = [], []
    for e in range(epochs):
        d = os.path.join(run_dir, "state", f"epoch={e}")
        parts = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")] if os.path.isdir(d) else []
        rows.append(sum(pq.ParquetFile(p).metadata.num_rows for p in parts))
        files.append(len(parts))
    return rows, files


def run_stream(name: str, seed: int, seconds: int, trace: bool, work: harness.Work, oc: Outcome) -> None:
    epochs = max(10, round(seconds / STREAM_NOMINAL_EPOCH_S))
    batches = corpus.stream_epochs(epochs, STREAM_PER_EPOCH, seed)
    expected = reference.stream_expected(batches)
    in_dir = work.path("stream-in")
    _write_epochs(batches, in_dir)
    warm_dir = work.path("warm-in")
    _write_epochs(corpus.stream_epochs(STREAM_WARM_EPOCHS, STREAM_PER_EPOCH, seed, tag="warm"), warm_dir)
    docs = sum(len(b) for b in batches)
    oc.detail.update(epochs=epochs, docs=docs, expected_rows=sum(map(len, expected)))

    klog = work.path("klog", "k") if trace else None
    if klog:
        os.makedirs(os.path.dirname(klog))
    t0 = time.time()
    spark, settings = harness.start_session(work, f"perfbench-{name}", {"SPARK_GRAFT_KERNEL_LOG": klog} if klog else None)
    oc.detail["settings"] = settings
    _run_stream(spark, warm_dir, work.path("warm-run"))
    setup_s = time.time() - t0

    run_dir = work.path("run")
    progress, calls = _run_stream(spark, in_dir, run_dir)
    lat = [p.durationMs["triggerExecution"] for p in progress]
    oc.check(len(lat) == epochs, f"stream ran {len(lat)} non-empty micro-batches for {epochs} epoch files")
    emitted, found = 0, 0
    for e, want in enumerate(expected):
        d = os.path.join(run_dir, "out", f"epoch={e}")
        got = [r["url"] for r in _read(d, ["url"])] if os.path.isdir(d) else []
        oc.attempted += 1
        oc.failed += not oc.check(sorted(got) == sorted(want), f"epoch {e}: {len(got)} rows emitted, {len(want)} expected, {len(set(got) & want)} in common")
        emitted += len(got)
        found += len(set(got) & want)
    rows, _ = _state_rows(run_dir, epochs)
    oc.check(all(r > 0 for r in rows), f"shape: state did not grow in every epoch (rows per epoch {rows})")
    want_total = sum(map(len, expected))

    t_val, t_pct, t_n = harness.tail(lat)
    oc.detail["step_tail"] = {"value": t_val, "percentile": t_pct, "samples": t_n}
    docs_per_s = STREAM_PER_EPOCH / (median(lat) / 1000.0)
    oc.put("docs_per_s", docs_per_s, "docs/s")
    oc.put("step_ms_p50", median(lat), "ms")
    oc.put("dup_pair_recall", found / want_total, "ratio")
    oc.put("merge_precision", found / emitted if emitted else 0.0, "ratio")
    oc.put("setup_s", setup_s, "s")
    oc.detail["epoch_ms"] = lat
    if trace:
        _trace_stream(spark, in_dir, work, klog, batches, calls, docs_per_s, oc)


def _trace_stream(spark, in_dir, work, klog, batches, untraced_calls, docs_per_s, oc: Outcome) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from quarrycore_spark.extraction.canonical import extract_pages

    tr = harness.Tracer()
    ss = harness.StatusStore(spark)
    n = harness.cores()
    harness.kernel_log_totals(klog, "ext")
    run_dir = work.path("run-traced")
    with tr.span("stream") as sp_stream:
        progress, calls = _run_stream(spark, in_dir, run_dir)
    for e, (a, b) in enumerate(calls):
        tr.add(f"add_batch.{e}", a, b, parent=sp_stream)
    lat = [p.durationMs["triggerExecution"] for p in progress]
    traced_docs_per_s = STREAM_PER_EPOCH / (median(lat) / 1000.0)
    rows, files = _state_rows(run_dir, len(batches))
    harness.kernel_log_totals(klog, "ext")
    with tr.span("extraction") as sp_ext:
        sp_ext["attrs"]["rows"] = _noop(extract_pages(spark.read.parquet(in_dir)).withColumn("doc_id", F.xxhash64("url")), Observation("ext"))
    ext_docs, ext_s = harness.kernel_log_totals(klog, "ext")

    jobs = ss.jobs()
    for s in tr.spans:
        s["attrs"]["spark"] = ss.window(jobs, s["start"], s["end"], n)
    docs = sum(map(len, batches))
    emitted = sum(rows)
    put = oc.put
    put("extraction.wall_s", tr.wall(sp_ext), "s")
    put("extraction.kernel_us_per_doc", 1e6 * ext_s / max(ext_docs, 1), "us")
    put("extraction.rows", sp_ext["attrs"]["rows"], "count")
    put("exact.survivors", emitted, "count")
    put("exact.edges", docs - emitted, "count")
    put("streaming.add_batch_ms_p50", 1000 * median([b - a for a, b in calls]), "ms")
    put("streaming.state_files_read", sum(sum(files[:e]) for e in range(len(files))), "count")
    put("streaming.state_rows", sum(rows), "count")
    put("streaming.rows_dropped", docs - emitted, "count")
    _put_spark(oc, ss, jobs, untraced_calls, n)
    put("trace.docs_per_s_ratio", traced_docs_per_s / docs_per_s, "ratio")
    oc.detail["trace"] = tr


# ---------------------------------------------------------------------------
# query: pair-family registry queries through the noop sink
# ---------------------------------------------------------------------------

QUERY_DOCS = 400
QUERY_VECS = 400
QUERY_NOMINAL_PASS_S = 10.0


def _checksum_cols(df):
    """Row count and an order-insensitive hash of every output row."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(2147483647))).alias("h"),
    ]


def _release(spark) -> None:
    """Drop the registry's memoised signatures and the operators' tracked
    persists, so every pass computes the same work from the scan."""
    from quarrycore_spark.operators._cache import release_tracked
    from quarrycore_spark.plans.registry import release_sigs

    release_tracked(spark)
    release_sigs(spark)


def run_query(name: str, seed: int, seconds: int, trace: bool, work: harness.Work, oc: Outcome) -> None:
    from collections import Counter

    from pyspark.sql import Observation

    from quarrycore_spark.plans.registry import REGISTRY

    sf = work.path("sf")
    os.makedirs(sf)
    documents, embeddings = corpus.registry_tables(QUERY_DOCS, QUERY_VECS, seed)
    pq.write_table(documents, os.path.join(sf, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(sf, "embeddings.parquet"))
    oracle = reference.registry_oracle(sf, REGISTRY_QUERIES)
    oc.detail["oracle_rows"] = {q: len(v[1]) for q, v in oracle.items()}

    t0 = time.time()
    spark, settings = harness.start_session(work, f"perfbench-{name}")
    oc.detail["settings"] = settings
    expect, recalls, precisions = {}, [], []
    for q in REGISTRY_QUERIES:
        df = REGISTRY[q].run_spark(spark, sf)
        obs = Observation(f"cold-{q}")
        rows = df.observe(obs, *_checksum_cols(df)).collect()
        cols = df.columns
        got = Counter(reference.normalize([tuple(r) for r in rows], cols, sorted(cols)))
        order, want_rows = oracle[q]
        want = Counter(want_rows)
        oc.check(order == sorted(cols), f"{q}: columns {sorted(cols)} != oracle {order}")
        common = sum((got & want).values())
        recalls.append(common / max(len(want_rows), 1))
        precisions.append(common / max(len(rows), 1))
        oc.check(got == want, f"{q}: {len(rows)} rows, oracle {len(want_rows)}, {common} in common")
        oc.check(len(want_rows) > 0, f"shape: {q} returned no rows; the workload does not reach its pair path")
        expect[q] = (obs.get["n"], obs.get["h"])
    _release(spark)
    setup_s = time.time() - t0

    walls, steps, windows = [], [], []
    for _ in range(_passes(seconds, QUERY_NOMINAL_PASS_S)):
        tp = time.time()
        for q in REGISTRY_QUERIES:
            t = time.time()
            df = REGISTRY[q].run_spark(spark, sf)
            obs = Observation(f"pass-{q}-{t}")
            df.observe(obs, *_checksum_cols(df)).write.format("noop").mode("overwrite").save()
            steps.append(time.time() - t)
            oc.attempted += 1
            oc.failed += not oc.check((obs.get["n"], obs.get["h"]) == expect[q], f"{q}: output differs from the oracle-checked cold pass")
        windows.append((tp, time.time()))
        walls.append(time.time() - tp)
        _release(spark)
    input_rows = QUERY_DOCS + QUERY_VECS
    t_val, t_pct, t_n = harness.tail(steps)
    oc.detail.update(step_tail={"value": t_val, "percentile": t_pct, "samples": t_n}, query_set_s=walls)
    docs_per_s = input_rows / min(walls)
    oc.put("docs_per_s", docs_per_s, "docs/s")
    oc.put("step_ms_p50", 1000 * median(steps), "ms")
    oc.put("dup_pair_recall", min(recalls), "ratio")
    oc.put("merge_precision", min(precisions), "ratio")
    oc.put("setup_s", setup_s, "s")
    if trace:
        tr = harness.Tracer()
        ss = harness.StatusStore(spark)
        n = harness.cores()
        with tr.span("query_set") as sp_set:
            for q in REGISTRY_QUERIES:
                with tr.span(f"registry.{q}"):
                    _noop(REGISTRY[q].run_spark(spark, sf))
        _release(spark)
        jobs = ss.jobs()
        for s in tr.spans:
            s["attrs"]["spark"] = ss.window(jobs, s["start"], s["end"], n)
            if s["name"].startswith("registry."):
                oc.put(f"{s['name']}.wall_s", tr.wall(s), "s")
                oc.put(f"{s['name']}.shuffle_mb", s["attrs"]["spark"]["shuffle_mb"], "MB")
        _put_spark(oc, ss, jobs, windows, n)
        oc.put("trace.docs_per_s_ratio", (input_rows / tr.wall(sp_set)) / docs_per_s, "ratio")
        oc.detail["trace"] = tr


WORKLOADS = {
    "crawl-unique": run_crawl,
    "crawl-dupheavy": run_crawl,
    "stream-epochs": run_stream,
    "query-pairs": run_query,
}
