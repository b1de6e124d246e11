"""Per-partition checkpoint/lineage + resumable restarts.

The reference's resumability precedents: incremental rebuild skips formulas
whose PNG already exists (F4, /root/reference/model/utils/image.py:238-245 —
semantically a left anti join) and epoch-resume parses the checkpoint filename
(model/base.py:33-48). At 10^12-document scale that becomes: process the docs
table one identity-partition at a time, write each partition's output
idempotently (overwrite its own directory), append a lineage row with metrics
(A8 analog), and on restart anti-join the partition list against the
checkpoint table so completed partitions are never re-decoded (north rule).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import ModelConfig, PipelineConfig
from ..pipeline import broadcast_weights, extract_spans
from ..operators.reassemble import reassemble
from ..sources import read_docs

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("part", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("wall_s", T.DoubleType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)


def _ckpt_path(out_dir: str) -> str:
    return out_dir.rstrip("/") + "/_checkpoint"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under whatever scheme it carries —
    local, hdfs://, s3a://. All checkpoint state I/O goes through this so
    resumability works on the cluster deployments job.py advertises, not just
    the driver's local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def completed_parts(spark: SparkSession, out_dir: str) -> set[int]:
    path = _ckpt_path(out_dir)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return set()
    rows = (
        spark.read.schema(CHECKPOINT_SCHEMA)
        .json(path)
        .filter(F.col("status") == "done")
        .select("part")
        .distinct()
        .collect()
    )
    return {r.part for r in rows}


def clear_checkpoint(spark: SparkSession, out_dir: str) -> None:
    """Drop the checkpoint table (job.py --no-resume) via the Hadoop FS API."""
    fs, hpath = _hadoop_fs(spark, _ckpt_path(out_dir))
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _append_checkpoint(spark: SparkSession, out_dir: str, row: dict) -> None:
    """Append one lineage record. JSON-lines dir keeps appends atomic per
    partition (one file per record) without table-format dependencies; an
    Iceberg deployment would MERGE into a checkpoint table instead. Written
    through the Hadoop FS API so the record lands next to the output on
    HDFS/S3, never on the driver's local disk."""
    path = _ckpt_path(out_dir)
    fs, dirp = _hadoop_fs(spark, path)
    # .crc sidecars are tolerated: Hadoop/Spark listings skip dot-files, so
    # completed_parts' spark.read.json never sees them. (Do NOT call
    # fs.setWriteChecksum(False) — FileSystem.get caches instances per
    # scheme/conf, so the flag would leak to every other write in the JVM.)
    fs.mkdirs(dirp)
    # the status rides the FILENAME so freshness checks (stage_done's
    # downstream-dirty guard) can compare per-status mtimes from one
    # listStatus call without opening any record
    fname = spark._jvm.org.apache.hadoop.fs.Path(
        dirp, f"part-{row['part']}-{row['status']}-{row['run_id']}.json"
    )
    stream = fs.create(fname, True)
    try:
        stream.write(bytearray((json.dumps(row) + "\n").encode("utf-8")))
    finally:
        stream.close()


def run_with_checkpoint(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    cfg: ModelConfig | None = None,
    pipe: PipelineConfig | None = None,
    fail_after: int | None = None,
    parts: list[int] | None = None,
) -> list[int]:
    """Run extraction partition-by-partition, resumably.

    Each identity partition is one pruned, idempotent job: output lands in
    ``out_dir/docs/part=<k>/`` via dynamic partition overwrite, then the
    lineage row is appended (output-then-mark ordering → a crash re-runs at
    most the in-flight partition; the overwrite makes the retry idempotent).

    ``fail_after=k`` injects a failure after k partitions (for the resume test,
    FIXTURES.md §6). Returns the list of partitions processed in this run.
    """
    cfg = cfg or ModelConfig.small()
    pipe = pipe or PipelineConfig()
    run_id = uuid.uuid4().hex[:8]
    weights_bc = broadcast_weights(spark, cfg)

    all_parts = sorted(
        r.part
        for r in read_docs(spark, corpus_dir, parts=parts)
        .select("part")
        .distinct()
        .collect()
    )
    done = completed_parts(spark, out_dir)
    todo = [p for p in all_parts if p not in done]

    out_docs = os.path.join(out_dir, "docs")
    processed: list[int] = []
    prev_overwrite = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i, part in enumerate(todo):
            if fail_after is not None and i >= fail_after:
                raise RuntimeError(f"injected failure before partition {part}")
            t0 = time.time()
            flat = extract_spans(
                spark, corpus_dir, cfg=cfg, pipe=pipe, parts=[part], weights_bc=weights_bc
            )
            result = reassemble(flat)
            # lineage metrics ride the write job itself (df.observe): one pass,
            # no post-write re-read of the output parquet (at 10^12 docs the
            # re-read would double the write-path I/O)
            obs = Observation(f"part-{part}-{run_id}")
            media_per_doc = F.size(
                F.filter("spans", lambda s: s["kind"] == F.lit("media"))
            )
            tokens_per_doc = F.aggregate(
                "spans",
                F.lit(0),
                lambda acc, s: acc
                + F.when(
                    s["kind"] == F.lit("media"), F.size(F.split(s["text"], " "))
                ).otherwise(0),
            )
            observed = result.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(media_per_doc).alias("n_images"),
                F.sum(tokens_per_doc).alias("n_tokens"),
            )
            observed.write.mode("overwrite").partitionBy("part").parquet(out_docs)
            stats = obs.get
            _append_checkpoint(
                spark,
                out_dir,
                {
                    "part": int(part),
                    "status": "done",
                    "n_docs": int(stats["n_docs"] or 0),
                    "n_images": int(stats["n_images"] or 0),
                    "n_tokens": int(stats["n_tokens"] or 0),
                    "wall_s": round(time.time() - t0, 3),
                    "run_id": run_id,
                },
            )
            processed.append(part)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_overwrite)
    return processed


# ---------------------------------------------------------------------------
# Downstream daily pipeline: extract → curate → dedup → budget, each stage a
# separate resumable unit. Extraction's restart unit is the partition; the
# downstream stages are corpus-wide passes (the dedup join is global by
# nature), so THEIR restart unit is the whole stage: output written first
# (idempotent overwrite), then the lineage row appended — a crash re-runs at
# most the in-flight stage, and reading the previous stage's MATERIALIZED
# parquet (never recomputing it) is the production contract between daily
# jobs. Reference analog: the staged build→evaluate chain,
# /root/reference/makefile:31-44.
# ---------------------------------------------------------------------------

DOWNSTREAM_STAGES = ("curate", "dedup", "budget", "mix")
# stage name → (lineage status, output subdir)
_STAGE_MARKS = {
    "curate": ("curated", "curated"),
    "dedup": ("deduped", "deduped"),
    "budget": ("budgeted", "budgeted"),
    "mix": ("mixed", "mixed"),
}


def _flat_extracted_text(spark: SparkSession, extracted_dir: str) -> DataFrame:
    """Flatten an extraction output (``extracted_dir/docs``) to the
    (doc_id, text) training corpus: each document's offset-ordered span
    sequence joined with single spaces."""
    docs = spark.read.parquet(os.path.join(extracted_dir, "docs"))
    return docs.select(
        F.split("doc_id", "-").getItem(1).cast("long").alias("doc_id"),
        F.concat_ws(
            " ", F.transform("spans", lambda s: s["text"])
        ).alias("text"),
    )


def _lineage_status_mtimes(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Newest lineage-file mtime (ms) per status, parsed from the
    status-stamped filenames (``part-<part>-<status>-<run_id>.json``) in one
    listStatus call. Files written by pre-status-stamp code contribute
    nothing — callers treat an absent status as 'freshness unknown'."""
    fs, dirp = _hadoop_fs(spark, _ckpt_path(out_dir))
    if not fs.exists(dirp):
        return {}
    known = {"done", "failed"} | {status for status, _ in _STAGE_MARKS.values()}
    out: dict[str, int] = {}
    for st in fs.listStatus(dirp):
        name = st.getPath().getName()
        if not (name.startswith("part-") and name.endswith(".json")):
            continue
        parts = name[:-5].split("-")
        if len(parts) < 4 or parts[-2] not in known:
            continue  # legacy filename without an embedded status
        status = parts[-2]
        out[status] = max(out.get(status, 0), st.getModificationTime())
    return out


def stage_done(spark: SparkSession, out_dir: str, stage: str) -> bool:
    """True when ``stage``'s lineage row exists AND is at least as new as
    the newest extraction 'done' row. Rows are appended output-then-mark
    (same ordering as partition extraction), so presence implies the
    stage's parquet write completed. The freshness clause is the
    downstream-dirty guard: a later run that extracts NEW partitions into
    the same output dir leaves the old stage rows older than the newest
    extract row, so every downstream stage reruns over the refreshed corpus
    instead of silently serving stale output — including after a kill
    mid-downstream, where the stages that already reran are fresh (skipped)
    and the rest are stale (rerun). When either side's mtime is unknown
    (legacy filenames), presence alone decides, as before."""
    status = _STAGE_MARKS[stage][0]
    path = _ckpt_path(out_dir)
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    exists = bool(
        spark.read.schema(CHECKPOINT_SCHEMA)
        .json(path)
        .filter(F.col("status") == status)
        .take(1)
    )
    if not exists:
        return False
    mt = _lineage_status_mtimes(spark, out_dir)
    if status not in mt or "done" not in mt:
        return True
    return mt[status] >= mt["done"]


def _materialize_stage(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    df: DataFrame,
    t0: float,
    n_tokens_col: str | None = None,
) -> dict:
    """Write one corpus-wide stage output and append its lineage row
    (part=-1: corpus-wide, never collides with partition resume). Lineage
    metrics ride the write job via ``observe`` so the output parquet is
    never re-read. ``t0`` is the ``time.time()`` at which the stage began
    building ``df``: jobs that run while the frame is built (dedup's
    connected components) count in the row's ``wall_s``."""
    status, subdir = _STAGE_MARKS[stage]
    run_id = uuid.uuid4().hex[:8]
    obs = Observation(f"{status}-{run_id}")
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if n_tokens_col:
        aggs.append(F.sum(n_tokens_col).alias("n_tokens"))
    observed = df.observe(obs, *aggs)
    observed.write.mode("overwrite").parquet(os.path.join(out_dir, subdir))
    stats = obs.get
    row = {
        "part": -1,
        "status": status,
        "n_docs": int(stats["n_docs"] or 0),
        "n_images": 0,
        "n_tokens": int(stats.get("n_tokens") or 0),
        "wall_s": round(time.time() - t0, 3),
        "run_id": run_id,
    }
    _append_checkpoint(spark, out_dir, row)
    return row


def run_curate_stage(
    spark: SparkSession, extracted_dir: str, out_dir: str
) -> dict:
    """Stage 2: language + quality gates + exact fingerprint dedup over the
    flattened extraction output → ``out_dir/curated`` (doc_id, text)."""
    from . import text_analysis as TA

    t0 = time.time()
    curated = TA.curate_corpus(_flat_extracted_text(spark, extracted_dir))
    return _materialize_stage(spark, out_dir, "curate", curated, t0)


def run_dedup_stage(spark: SparkSession, out_dir: str) -> dict:
    """Stage 3: MinHash-LSH near-dup pair generation + dedup_apply over the
    materialized curated corpus → ``out_dir/deduped`` (doc_id, text). Both
    consumers of the curated frame scan its parquet — no recompute of the
    curation gates, no persist needed."""
    from . import dedup as D

    t0 = time.time()
    curated = spark.read.parquet(os.path.join(out_dir, "curated"))
    survivors = D.dedup_apply(
        curated, D.minhash_lsh_pairs(curated, n=3, threshold=0.5)
    )
    return _materialize_stage(spark, out_dir, "dedup", survivors, t0)


def run_budget_stage(spark: SparkSession, out_dir: str) -> dict:
    """Stage 4: token budget (words / greedy-BPE subwords / chars) over the
    deduped survivors → ``out_dir/budgeted`` (doc_id, text + counts)."""
    from . import text_analysis as TA

    t0 = time.time()
    deduped = spark.read.parquet(os.path.join(out_dir, "deduped"))
    budget = TA.token_count(deduped, keep_text=True)
    return _materialize_stage(
        spark, out_dir, "budget", budget, t0, n_tokens_col="n_subwords"
    )


def run_mix_stage(
    spark: SparkSession,
    out_dir: str,
    benchmark_dir: str | None = None,
    budgets: dict[str, int] | None = None,
    max_rep_ratio: float = 0.3,
    lm_top_frac: float | None = None,
    upsample_factors: dict[str, float] | None = None,
) -> dict:
    """Stage 5: training-mix finalization over the budgeted corpus →
    ``out_dir/mixed``. Four gates, cheapest first:

    1. Gopher-style repetition gate (``repetition_ratio`` ≤ max_rep_ratio)
       — pure per-row expressions, prunes rows before anything shuffles;
    2. CCNet-style LM fluency gate when ``lm_top_frac`` is configured —
       train the bigram LM on the repetition-gated corpus and keep the
       top fraction by cross-entropy (corpus-derived exact percentile
       threshold; docs with < 2 tokens drop — no LM evidence);
    3. benchmark decontamination when ``benchmark_dir`` is configured —
       docs sharing any 5-gram shingle with the eval set are anti-joined
       away (both the hit count and the anti-join key on doc_id);
    4. deterministic token-budget sampling per language stratum when
       ``budgets`` (lang → word budget) is configured — languages absent
       from the budget map sample at rate 0, i.e. budgets define the mix
       EXHAUSTIVELY (the standard mixing contract: unlisted strata are
       excluded, not passed through);
    5. repeat-factor upsampling when ``upsample_factors`` (lang → epochs)
       is configured — each stratum replicated f× in expectation at
       (doc_id, epoch) grain (floor(f) full copies + a deterministic
       fractional copy), so under-represented languages can be weighted
       ABOVE 1.0 where budgets can only trim down.

    Unset knobs skip their gate, so the stage degrades gracefully from the
    full mix to a repetition-only pass. The n_words lineage metric rides
    the sampled output when budgets or upsample factors apply."""
    from . import text_analysis as TA

    t0 = time.time()
    corpus = spark.read.parquet(os.path.join(out_dir, "budgeted")).select(
        "doc_id", "text"
    )
    mixed = (
        TA.repetition_ratio(corpus, keep_text=True)
        .filter(F.col("rep_ratio") <= max_rep_ratio)
        .select("doc_id", "text")
    )
    cleanup = []
    if lm_top_frac is not None:
        from .lm import lm_fluency_gate

        mixed, lm_scores = lm_fluency_gate(mixed, top_frac=lm_top_frac)
        cleanup.append(lm_scores)
    if benchmark_dir:
        bench = spark.read.parquet(benchmark_dir).select("doc_id", "text")
        contaminated = (
            TA.decontaminate(mixed, bench)
            .filter(F.col("contaminated"))
            .select("doc_id")
        )
        mixed = mixed.join(contaminated, "doc_id", "left_anti")
    if budgets:
        mixed = TA.sample_to_budget(mixed, budgets, keep_text=True).select(
            "doc_id", "text", "lang", "n_words", "rate"
        )
    if upsample_factors:
        if "lang" not in mixed.columns:
            mixed = mixed.withColumn(
                "lang", TA._lang_pred_expr(F.col("text"))
            )
        mixed = TA.upsample_mix(
            mixed, upsample_factors, keep_text=True
        ).withColumn(
            "n_words",
            F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")),
        )
    if budgets or upsample_factors:
        row = _materialize_stage(
            spark, out_dir, "mix", mixed, t0, n_tokens_col="n_words"
        )
    else:
        row = _materialize_stage(spark, out_dir, "mix", mixed, t0)
    for frame in cleanup:
        frame.unpersist()
    return row


def run_daily_pipeline(
    spark: SparkSession,
    extracted_dir: str,
    out_dir: str,
    stages: tuple = DOWNSTREAM_STAGES,
    resume: bool = True,
    fail_after_stage: str | None = None,
    mix_opts: dict | None = None,
) -> dict:
    """Run the downstream daily stages in order with per-stage resume:
    a stage whose lineage row already exists is skipped (``resume=True``),
    so a job killed between stages restarts without recomputing finished
    work. Returns {stage: lineage row, or "skipped"}.

    ``fail_after_stage`` injects a crash AFTER the named stage commits (for
    the kill-between-stages resume test, mirroring run_with_checkpoint's
    ``fail_after``)."""
    runners = {
        "curate": lambda: run_curate_stage(spark, extracted_dir, out_dir),
        "dedup": lambda: run_dedup_stage(spark, out_dir),
        "budget": lambda: run_budget_stage(spark, out_dir),
        "mix": lambda: run_mix_stage(spark, out_dir, **(mix_opts or {})),
    }
    results: dict = {}
    for stage in stages:
        if resume and stage_done(spark, out_dir, stage):
            results[stage] = "skipped"
        else:
            results[stage] = runners[stage]()
        if fail_after_stage == stage:
            raise RuntimeError(f"injected failure after stage {stage}")
    return results
