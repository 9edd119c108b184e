"""The end-to-end dedup pipeline — Spark-native expression of the
reference's Pipeline.run (src/quarrycore/pipeline.py:584-853):

    pages ──extract──▶ docs ──exact──▶ survivors ──signatures──▶
      LSH verified pairs ∪ SimHash pairs ──CC──▶ clusters ──▶
      docs_dedup + clusters + metrics + lineage tables
    survivors ──substring (second thread, beside pairs..docs_dedup)──▶
      substring_pairs

Differences by design (SURVEY §3.1 "Spark translation"):
* per-URL asyncio stages become whole-corpus DataFrame stages;
* the mutable hash/LSH stores become groupBy + self-joins;
* checkpoint/resume = stage-output parquet + an atomic JSON manifest
  (the reference's PipelineCheckpoint, pipeline.py:990-1033) — a killed
  run resumes after the last completed stage;
* exact-dup edges are emitted as STARS (member→group-canonical), not
  member×member cliques: O(n) edges instead of O(n²) per group, same
  connected components.

Lineage: one row per (stage, write partition) — each parquet file's row
count, read from the stage files' footers on the driver (no Spark job).
A resumed stage reads its checkpoint with the schema from its footer
(``sources.tables.read_parquet``), so resuming a completed run runs no
Spark job.

Jobs per pass: a warm pass over 1,000 crawl pages runs 36 Spark jobs (58
before stage read-back took the written schema, spread() read partition
counts from the plan, lineage came from footers and the substring stage
read each input once; 38 before CC's union-find roots came from an Arrow
table instead of a parallelized list). Jobs and tasks, not kernels, bound
a pass at this size. Each Python task runs ``importlib.invalidate_caches()``
in ``pyspark.worker_util.setup_spark_files``; under Python 3.11 that
re-read the directories of pyspark.zip (12 importers, 1,328 entries), the
spark-core jar (2, 5,359 entries) and py4j (2) on every task: 0.2-0.3 s
a task, 4.2-4.8 s over the 16 timed calls of a warm 1,000-page pass.
Importing this package in a worker swaps in
``session.StatCheckedZipImporter``, which re-reads an archive only when
its stat changed, so only a worker's first task pays it; the same 16
calls then took 3-8 ms.

Two more fixed costs of a warm pass are gone. (1) Spark's cache of
compiled generated classes held 100 entries, fewer than the ~150 sources
one pass generates, so every warm pass recompiled 140-144 classes with
Janino; ``session.CODEGEN_CACHE_ENTRIES`` sizes it to hold a pass.
(2) The substring stage (~1.2 s of a ~4.9 s pass) feeds neither CC nor
docs_dedup, so it runs on a second thread, started once the signatures
stage has materialized ``docs``, beside pairs → clusters → docs_dedup on
the caller's thread. The thread carries the caller's job group, so the
job count per pass is unchanged; it is joined before lineage and metrics,
so no Spark job outlives run_pipeline. Stage walls in metrics.json
therefore overlap and no longer sum to the pass wall; metrics.json lists
stages in STAGE_ORDER whichever finishes first. substring=False runs the
chain alone, as before.

Run it standalone:
    spark-submit --py-files quarrycore_spark.zip -m quarrycore_spark.plans.pipeline \
        (or: python -m quarrycore_spark.plans.pipeline OUT_DIR
             [N_PAGES | --warc '/data/*.warc.gz' | --pages /data/pages])
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from quarrycore_spark.config import DEFAULT_CONFIG, DedupConfig
from quarrycore_spark.extraction.canonical import extract_pages
from quarrycore_spark.operators._partitioning import spread
from quarrycore_spark.operators.cc import connected_components
from quarrycore_spark.operators.lsh import verified_pairs
from quarrycore_spark.operators.signatures import _check_family, with_signatures
from quarrycore_spark.operators.simhash import simhash_pairs
from quarrycore_spark.sources.tables import read_parquet


# metrics.json order: the pipeline's stage order, whichever stage finishes
# first (substring_pairs runs beside pairs → clusters → docs_dedup)
STAGE_ORDER = (
    "extracted", "exact", "signatures", "pairs", "substring_pairs",
    "clusters", "docs_dedup",
)


@dataclass
class PipelineResult:
    docs: DataFrame
    clusters: DataFrame
    metrics: list[dict]
    lineage: DataFrame


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def _load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stages": {}}


def _save_manifest(out_dir: str, man: dict) -> None:
    p = _manifest_path(out_dir)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, p)  # atomic (reference utils/atomic.py semantics)


def _stage(
    spark, out_dir, man, lock, name, builder, resume=True, extra_obs=None,
) -> DataFrame:
    """Run one stage with checkpoint/resume: if the manifest records the
    stage as complete, read its parquet instead of recomputing. Stages on
    two threads share the manifest; lock guards its updates and saves."""
    path = os.path.join(out_dir, name)
    if resume and name in man["stages"]:
        return read_parquet(spark, man["stages"][name]["path"])
    t0 = time.time()
    df = builder()
    # Bound the output file count to ~4 files per core: a stage inheriting
    # hundreds of input splits would otherwise pay one parquet-writer
    # buffer allocation per split (a serialized cost on hosts whose
    # first-touch page faults serialize, and tiny-file pollution on a real
    # cluster). coalesce (not repartition): no shuffle, never increases
    # partitions, so it is a no-op for already-narrow stages — no plan
    # inspection needed.
    # SPARK_GRAFT_STAGE_FILES pins the count explicitly — the scaling
    # legs set it so the N and 4N legs run the IDENTICAL job shape
    # (same task count, same number of 32 MB writer-buffer
    # allocations); letting it float with defaultParallelism gave the
    # 1-core leg a structurally cheaper job (4 writer buffers vs 16),
    # biasing the measured N-vs-4N ratio.
    n_files = int(
        os.environ.get("SPARK_GRAFT_STAGE_FILES", "0")
    ) or 4 * spark.sparkContext.defaultParallelism
    df = df.coalesce(n_files)
    obs = Observation(f"stage_{name}_{int(t0 * 1000)}")
    df.observe(
        obs, F.count(F.lit(1)).alias("n"), *(extra_obs or [])
    ).write.mode("overwrite").parquet(path)
    got = obs.get
    # read back with the schema just written: schema inference would run
    # one Spark job per stage to open a footer the driver already knows
    df = spark.read.schema(df.schema).parquet(path)
    with lock:
        if extra_obs:
            man.setdefault("observations", {})[name] = {
                k: v for k, v in got.items() if k != "n"
            }
        man["stages"][name] = {
            "path": path,
            "rows": int(got["n"]),
            "wall_s": round(time.time() - t0, 3),
        }
        _save_manifest(out_dir, man)
    return df


def _footer_lineage(stage_paths: dict[str, str]) -> pa.Table:
    """The lineage table — (stage, partition_id, rows) for each write
    partition of each stage's parquet output — as an Arrow table, summed
    from the file footers on the driver: no Spark job. Spark names every
    output file part-<write partition>-...; a partition that wrote no rows
    contributes no lineage row."""
    stages, pids, rows = [], [], []
    for stage, path in stage_paths.items():
        counts: dict[int, int] = {}
        for f in os.listdir(path):
            if f.startswith("part-") and f.endswith(".parquet"):
                pid = int(f.split("-")[1])
                n = pq.read_metadata(os.path.join(path, f)).num_rows
                counts[pid] = counts.get(pid, 0) + n
        for pid, n in sorted(counts.items()):
            if n:
                stages.append(stage)
                pids.append(pid)
                rows.append(n)
    return pa.table(
        {
            "stage": pa.array(stages, pa.string()),
            "partition_id": pa.array(pids, pa.int32()),
            "rows": pa.array(rows, pa.int64()),
        }
    )


def final_table(
    extracted: DataFrame,
    docs: DataFrame,
    clusters: DataFrame,
    mh_pairs: DataFrame,
    sh_pairs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """The labeled docs_dedup table (D15, D12, D17, P14-lite).

    duplicate_type follows the reference ladder (fuzzy_matcher.py:200-211):
    exact > near_exact (sim>=.95) > very_similar (>=.90) > minhash >
    simhash > unique; `domain` mirrors the urlparse fields the reference
    pipeline wires into every stored doc (pipeline.py:680-692).

    Plan shape (pinned by tests/test_pipeline.py::
    test_final_plan_keeps_text_local): the FAT side (extracted, carrying
    the full text) joins slim frames only — `docs` re-carries
    url/warc_ts/content_hash, all of which extracted already has, so
    joining the whole `docs` frame (~140 B/row — past the broadcast
    threshold at 10⁶ rows) would demote this to a sort-merge join and
    shuffle every byte of extracted_text. The 9 B/row flag projection
    stays broadcastable ~15× longer, and past that the SMJ moves 9 B/row
    instead of the corpus. Same rule for clusters/mh_b/sh_b: slim, the
    text never leaves its scan partitions.
    """
    mh_b = (
        mh_pairs.groupBy(F.col("b_id").alias("doc_id"))
        .agg(F.max("score").alias("best_agree"))
        .withColumn("t_mh", F.lit(True))
    )
    sh_b = sh_pairs.select(F.col("b_id").alias("doc_id")).distinct().withColumn("t_sh", F.lit(True))
    flags = docs.select("doc_id", "is_exact_canonical")
    return (
        extracted.select(
            "doc_id", "url", "warc_ts", "lang", "content_hash",
            "extracted_text", "title", "quality_scaled", "extract_error",
        )
        .join(flags, "doc_id")
        .join(clusters, "doc_id", "left")
        .join(mh_b, "doc_id", "left")
        .join(sh_b, "doc_id", "left")
        .select(
            "doc_id", "url", "warc_ts", "lang", "content_hash",
            F.parse_url("url", F.lit("HOST")).alias("domain"),
            "extracted_text", "title", "quality_scaled", "extract_error",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.when(~F.col("is_exact_canonical"), "exact")
            .when(
                F.col("t_mh")
                & (F.col("best_agree") * 100 >= cfg.num_perm * 95),
                "near_exact",
            )
            .when(
                F.col("t_mh")
                & (F.col("best_agree") * 100 >= cfg.num_perm * 90),
                "very_similar",
            )
            .when(F.col("t_mh"), "minhash")
            .when(F.col("t_sh"), "simhash")
            .otherwise("unique")
            .alias("duplicate_type"),
            (
                ~F.col("is_exact_canonical")
                | F.coalesce("t_mh", F.lit(False))
                | F.coalesce("t_sh", F.lit(False))
            ).alias("is_duplicate"),
        )
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    resume: bool = True,
    substring: bool = True,
    cascade_threshold: int = 0,
    family: str = "poly",
) -> PipelineResult:
    """family selects the near-dup signature scheme end-to-end (see
    signatures.with_signatures): "poly" (default) — the vectorized
    rolling-hash family; "md5" — the oracle-parity scheme; "datasketch" —
    the reference's actual MinHash scheme (sha1→uint32, mod 2^61-1) with
    its S-curve-optimal banding, so recall gates against reference
    semantics exercise THIS production path
    (tests/test_pipeline.py::test_pipeline_recall_datasketch_family).

    An unknown family raises ValueError before any stage runs. With
    resume=True, a manifest in out_dir written under another family,
    cascade_threshold or cfg raises ValueError.

    The substring stage runs on a second thread beside pairs → clusters →
    docs_dedup and is joined before this returns; its failure is raised
    once the chain has finished (a chain failure wins, with the substring
    one as its __context__)."""
    _check_family(family)
    os.makedirs(out_dir, exist_ok=True)
    man = _load_manifest(out_dir) if resume else {"stages": {}}
    # checkpoints are reusable only under the settings that wrote them (the
    # manifest records them with the first stage write); the identity of
    # the input pages is not recorded
    settings = {"family": family, "cascade_threshold": cascade_threshold, "cfg": repr(cfg)}
    recorded = man.setdefault("settings", settings)
    differ = [
        f"{k} ({recorded.get(k)!r} recorded, {v!r} given)"
        for k, v in settings.items()
        if recorded.get(k) != v
    ]
    if differ:
        raise ValueError(
            f"cannot resume {out_dir}: its checkpoints were written with other "
            f"settings: {'; '.join(differ)}"
        )
    lock = threading.Lock()

    def stage(name, builder, extra_obs=None) -> DataFrame:
        return _stage(
            spark, out_dir, man, lock, name, builder, resume, extra_obs
        )

    # ---- stage 1: extraction (P1-P6, P11) -------------------------------
    # spread the (CPU-bound) extraction across all cores when the input has
    # few parquet splits — but never shuffle the raw HTML if it already has
    # enough partitions (the repartition would move every byte of the corpus)
    src = spread(pages)
    extracted = stage(
        "extracted",
        lambda: extract_pages(src, cascade_threshold=cascade_threshold)
        .withColumn("doc_id", F.xxhash64("url")),
    )

    # ---- stage 2: exact dedup (D1, D2) ----------------------------------
    # content_hash comes from the extraction UDF (sha256 over canonical
    # text) so the full canonical text never travels between stages.
    # NOT a checkpointed stage: the canonical-selection window reads only
    # slim columns the extraction parquet already materializes, so a
    # write+read barrier here buys nothing — on resume it recomputes
    # deterministically from `extracted` in one cheap shuffle. Persisted
    # because three downstream stages (signatures, clusters, docs_dedup)
    # consume it.
    from pyspark.sql import Window as W

    w = W.partitionBy("content_hash").orderBy("warc_ts", "url")
    docs = (
        extracted.select("doc_id", "url", "warc_ts", "content_hash")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("is_exact_canonical", F.col("rn") == 1)
        .drop("rn")
        .persist()
    )
    # bookkeeping row (tests/metrics contract): the exact layer exists but
    # its (small) cost rides the consuming stages' walls.
    man["stages"]["exact"] = {"path": None, "rows": None, "wall_s": 0.0, "fused": True}

    # exact star edges: member → group-canonical (same CC as the clique)
    canon = docs.filter("is_exact_canonical").select(
        "content_hash", F.col("doc_id").alias("canon_id")
    )
    exact_edges = (
        docs.filter(~F.col("is_exact_canonical"))
        .select("content_hash", "doc_id")
        .join(canon, "content_hash")
        .select(F.col("doc_id").alias("u"), F.col("canon_id").alias("v"))
    )

    # ---- stage 3: signatures on exact survivors (D4-D7, D10) ------------
    # short-circuit semantics of the reference (hybrid_dedup.py:146-171):
    # near-dup detection only runs on docs that survived the exact layer.
    #
    # Join shape matters here: the id side is doc_id only, the probe side
    # carries the full text into a CPU-dense kernel. Left to stats,
    # Catalyst plans a sort-merge join (both sides look scan-sized), which
    # (a) exchanges every byte of text and (b) lets AQE coalesce the
    # post-shuffle partitions by BYTES — measured on the 4-core scaling
    # leg as 4 fat partitions of [3,2,2,1]x40k docs, turning the
    # signatures stage into a one-wave straggler (slowest worker 95 s,
    # fastest idle after 33 s). Broadcasting the id side keeps the probe
    # side on the extraction parquet's balanced scan partitioning and
    # ships zero text. The hint is gated on the extraction stage's actual
    # row count (manifest/Observation) so it stays honest at scale: past
    # ~20M survivors (~160 MB of ids) the hint is withheld and the join
    # falls back to the co-partitioned sort-merge shape a 10^12-doc run
    # needs.
    survivor_ids = docs.filter("is_exact_canonical").select("doc_id")
    _ext_rows = man["stages"].get("extracted", {}).get("rows")
    if _ext_rows is not None and _ext_rows <= 20_000_000:
        survivor_ids = F.broadcast(survivor_ids)
    survivors = (
        survivor_ids
        .join(extracted.select("doc_id", "extracted_text"), "doc_id")
        .select("doc_id", F.col("extracted_text").alias("text"))
    )
    def build_sigs():
        # content_hash is dropped before the checkpoint: the pipeline's
        # exact layer reads extraction's hash, so the 64-hex column would
        # be ~64 B/doc of write+read the pair stages never touch.
        return with_signatures(survivors, cfg, family).drop("content_hash")

    sigs = stage("signatures", build_sigs)

    # ---- stage 4b: substring-overlap extents (D13, classification only) --
    # Suffix-array refinement over L-gram candidates: finds contains /
    # contained_in relations (the reference's partial-match scan,
    # fuzzy_matcher.py:213-236). Informational output: it feeds neither CC
    # (containment is not duplication) nor docs_dedup, so it runs on a
    # thread of its own beside the near-dup chain below. `docs`, which its
    # survivors read, was materialized by the signatures stage. The thread
    # inherits this thread's local properties (job group, scheduler pool),
    # so its jobs are counted and cancelled with the caller's.
    def build_substring():
        from quarrycore_spark.operators.substring import (
            substring_extents,
            winnow_doc_pairs,
        )

        mo = cfg.min_overlap
        cand = winnow_doc_pairs(survivors, mo)
        return substring_extents(survivors, cand, mo)

    substring_failed: list[BaseException] = []

    def run_substring() -> None:
        try:
            stage("substring_pairs", build_substring)
        except BaseException as e:  # raised again on the caller's thread
            substring_failed.append(e)

    def join_substring() -> None:
        if substring:
            substring_thread.join()
            if substring_failed:
                raise substring_failed[0]

    if substring:
        substring_thread = InheritableThread(target=run_substring)
        substring_thread.start()
    try:
        # ---- stage 4: near-dup pair generation (D7-D10) ------------------
        # ONE materialization for both pair families: minhash-verified and
        # simhash pairs consume the same persisted `sigs` frame, so
        # unioning them into a single stage halves the stage barriers
        # (write + count) of the shuffle-bound part of the job.
        def build_pairs():
            mh = verified_pairs(sigs, cfg).select(
                "a_id", "b_id", F.col("agree_cnt").alias("score"),
                F.lit("minhash").alias("kind"),
            )
            sh = simhash_pairs(sigs, cfg).select(
                "a_id", "b_id", F.col("hamming").alias("score"),
                F.lit("simhash").alias("kind"),
            )
            return mh.unionByName(sh)

        pairs = stage("pairs", build_pairs)
        mh_pairs = pairs.filter(F.col("kind") == "minhash")
        sh_pairs = pairs.filter(F.col("kind") == "simhash")

        # ---- stage 5: connected components (D16) -------------------------
        edges = (
            exact_edges.union(mh_pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")))
            .union(sh_pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")))
            .distinct()
        )
        clusters = stage(
            "clusters",
            lambda: connected_components(
                edges, docs.select("doc_id"),
                checkpoint_dir=os.path.join(out_dir, "cc"),
                resume=resume,
            ),
        )

        # ---- stage 6: final labeled docs table (see final_table) ---------
        final = stage(
            "docs_dedup",
            lambda: final_table(extracted, docs, clusters, mh_pairs, sh_pairs, cfg),
            extra_obs=[F.sum(F.col("is_duplicate").cast("long")).alias("dups")],
        )
    except BaseException as err:
        # the chain's failure is the one raised; a substring failure rides
        # along as its __context__
        try:
            join_substring()
        except BaseException:
            raise err
        raise
    join_substring()

    # ---- lineage: rows per write partition of each stage (north-rule
    # lineage), from the stage files' parquet footers -------------------
    lineage_stages = ["extracted", "signatures", "pairs", "docs_dedup"]
    if substring:
        lineage_stages.append("substring_pairs")
    table = _footer_lineage(
        {name: man["stages"][name]["path"] for name in lineage_stages}
    )
    lineage_dir = os.path.join(out_dir, "lineage")
    shutil.rmtree(lineage_dir, ignore_errors=True)
    os.makedirs(lineage_dir)
    pq.write_table(table, os.path.join(lineage_dir, "part-00000.parquet"))
    lineage = spark.createDataFrame(table)

    metrics = [
        {"stage": k, **man["stages"][k]} for k in STAGE_ORDER if k in man["stages"]
    ]
    # the summary rides the docs_dedup write's Observation (kept in the
    # manifest, so a resumed run reports it too)
    total = man["stages"]["docs_dedup"]["rows"]
    dups = int(man["observations"]["docs_dedup"].get("dups") or 0)
    metrics.append(
        {
            "stage": "summary", "total_docs": total, "duplicate_docs": dups,
            "dedup_ratio_pct": (100 * dups) // max(total, 1),
        }
    )
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=1)
    docs.unpersist()
    return PipelineResult(final, clusters, metrics, lineage)


def main() -> None:
    """CLI: OUT_DIR [N_PAGES | --warc GLOB | --pages PATH].

    Input modes: the deterministic synthetic corpus (default, N_PAGES
    rows), real Common-Crawl WARC files (``--warc '/data/*.warc.gz'`` —
    sources/warc.py, one file per task), or a pre-built pages parquet
    (``--pages /data/pages`` with the input_hint schema)."""
    import sys

    from pyspark.sql import functions as F

    from quarrycore_spark.session import ensure_py_files, get_spark
    from quarrycore_spark.sources.corpus import generate_pages, pages_dataframe

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/quarrycore_pipeline"
    args = sys.argv[2:]
    spark = get_spark("quarrycore-pipeline")
    ensure_py_files(spark)
    if args and args[0] == "--warc":
        from quarrycore_spark.sources.warc import read_warc

        pages = (
            read_warc(spark, args[1])
            # dead-letters stay behind (bad-date rows keep their url, so
            # the error column — not url — is the dead-letter marker)
            .filter(F.col("warc_error").isNull() & F.col("url").isNotNull())
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("lang", F.lit(None).cast("string"))
            .select("url", "warc_ts", "html", "text", "lang")
        )
    elif args and args[0] == "--pages":
        pages = read_parquet(spark, args[1])
    else:
        n = int(args[0]) if args else 2000
        pages = pages_dataframe(spark, generate_pages(n))
    res = run_pipeline(spark, pages, out_dir)
    print(json.dumps(res.metrics, indent=1))


if __name__ == "__main__":
    main()
