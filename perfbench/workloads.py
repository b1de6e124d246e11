"""The benchmark's workloads: one pass, its output check, and the traced
layer probes, all through the engine's public functions.

* ``extract_media`` — docs with media (heavy and oversized images included)
  through ``pipeline.extract_documents`` to a parquet sink. Decode and
  preprocessing carry the work.
* ``daily_text`` — text-only docs through ``run_with_checkpoint`` then
  ``run_daily_pipeline`` (the ``job.py --stage all`` path) into a fresh
  output dir per pass. Decode does no work; curation, MinHash dedup, token
  budgeting and the checkpoint/lineage writes carry the load.

``run_pass`` runs one pass; ``check`` returns the docs it output and whether
that output is right. Layer probes run only in a traced run, after the timed
window: extraction stage walls are noop-sink calls (as in ``bench_extra.py``)
over each stage's input materialized once, kernel times come from calling
the kernels in this process on a fixed sample of the workload's images, and
the daily stages' walls come from the lineage rows the stages write and from
rerunning each stage. Every layer is timed on its own, so the layers' sum is
checked against the pass wall rather than equal to it by construction.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from . import inputs

KERNEL_SAMPLE = 16  # images timed in-process by the kernel probe
PROBE_REPS = 2  # each noop-sink probe runs this often; its wall is the minimum

EXTRACT_KEYS = (
    "pipeline.explode_join_s", "pipeline.media_rows",
    "inference.prepro_s", "inference.prepro_rows",
    "inference.decode_s", "inference.decode_groups", "inference.decode_partitions",
    "inference.fallback_s", "inference.fallback_rows",
    "reassemble.s", "sink.write_s",
)
KERNEL_KEYS = (
    "kernels.png_decode_s", "kernels.preprocess_s", "kernels.encode_s",
    "kernels.greedy_decode_s", "kernels.images", "kernels.pixels", "kernels.decode_steps",
)
DAILY_STAGES = ("curate", "dedup", "budget", "mix")
DAILY_KEYS = (
    "text_analysis.curate_s", "text_analysis.kept_frac", "text_analysis.token_count_s",
    "dedup.minhash_pairs_s", "dedup.pairs", "dedup.removed",
    "checkpoint.extract_write_s", "checkpoint.parts_written", "checkpoint.bookkeeping_s",
    *(f"checkpoint.stage_s.{s}" for s in DAILY_STAGES),
    *(f"checkpoint.stage_call_s.{s}" for s in DAILY_STAGES),
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed_noop(df, **aggs) -> dict:
    """Noop-sink ``df`` and return the named aggregates observed during that
    same job."""
    from pyspark.sql import Observation

    obs = Observation()
    noop(df.observe(obs, *[a.alias(k) for k, a in aggs.items()]))
    return obs.get


class Workload:
    """State shared by one workload's passes: session, corpus, configs."""

    name = ""

    def __init__(self, spark, tracer, corpus: str, run_dir: str, expected):
        from latex_ocr_spark.config import ModelConfig, PipelineConfig

        self.spark = spark
        self.tracer = tracer
        self.corpus = corpus
        self.run_dir = run_dir
        self.expected = expected
        self.cfg = ModelConfig.bench()
        self.pipe = PipelineConfig()
        self.weights_bc = None
        self.n_groups_est = None
        self.deadline = float("inf")

    def setup(self) -> None:
        """Per-job set-up the passes share: the weights broadcast and the
        decode-groups estimate."""
        from latex_ocr_spark.pipeline import broadcast_weights, decode_groups_estimate

        with self.tracer.span("pipeline.broadcast_weights"):
            self.weights_bc = broadcast_weights(self.spark, self.cfg)
        with self.tracer.span("pipeline.decode_groups_estimate"):
            self.n_groups_est = decode_groups_estimate(self.spark, self.corpus, self.pipe)

    def out_dir(self, i: int) -> str:
        return os.path.join(self.run_dir, "out", f"pass-{i}")

    @classmethod
    def load_expected(cls, corpus: str, wrong: bool = False):
        """What ``check`` compares a pass against, from the cached inputs;
        ``wrong`` corrupts it so every pass must fail (smoke test)."""
        raise NotImplementedError

    def run_pass(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> tuple[int, bool]:
        """(docs output, output correct) for pass ``i``."""
        raise NotImplementedError

    def discard(self, i: int) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)

    # -- traced-run probes --------------------------------------------------

    def timed_min(self, name: str, fn) -> tuple[float, object]:
        """(min wall, last result) of ``PROBE_REPS`` calls, each in a span;
        past ``self.deadline`` (a ``perf_counter`` time) only one call."""
        walls, out = [], None
        while not walls or (len(walls) < PROBE_REPS and time.perf_counter() < self.deadline):
            with self.tracer.span(name):
                t0 = time.perf_counter()
                out = fn()
                walls.append(time.perf_counter() - t0)
            self.spark.catalog.clearCache()
        return min(walls), out

    def extraction_probes(self, media: bool = True) -> dict[str, float]:
        """Noop-sink walls of the extraction layers on this workload's
        corpus, each timed alone over its input materialized once as
        parquet: scan+explode+join from the corpus; preprocessing (both
        routes) from the joined rows; decode (both routes) from the
        preprocessed rows; reassembly from the decoded flat spans; the
        parquet sink as reassembly to parquet less reassembly to noop. The
        fallback (oversized-image) decode route is also timed alone. With
        ``media=False`` (a text-only corpus) only the join is timed."""
        from pyspark.sql import functions as F

        from latex_ocr_spark.operators.inference import (
            decode_groups,
            decode_partitions,
            decode_rows,
            fits_some_bucket,
            preprocess_spans,
        )
        from latex_ocr_spark.operators.reassemble import reassemble
        from latex_ocr_spark.pipeline import explode_spans, extract_spans
        from latex_ocr_spark.sources import read_docs, read_media

        spark, pipe, cfg, corpus = self.spark, self.pipe, self.cfg, self.corpus
        sc = spark.sparkContext
        count = F.count(F.lit(1))
        out = dict.fromkeys(EXTRACT_KEYS, 0.0)

        def joined():
            spans = explode_spans(read_docs(spark, corpus))
            return (
                spans.filter(F.col("kind") == "media")
                .select("doc_id", "part", "offset", "media_ref")
                .join(read_media(spark, corpus).select("media_ref", "image", "height", "width"),
                      "media_ref")
            )

        out["pipeline.explode_join_s"], obs = self.timed_min(
            "probe.explode_join", lambda: _observed_noop(joined(), n=count))
        out["pipeline.media_rows"] = int(obs["n"] or 0)
        if not media:
            return out

        mat = os.path.join(self.run_dir, "probe")

        def stored(name: str, df=None):
            """Write ``df`` to ``<mat>/<name>`` if given; read it back."""
            if df is not None:
                df.write.mode("overwrite").parquet(os.path.join(mat, name))
            return spark.read.parquet(os.path.join(mat, name))

        def prepped(fit: bool):
            """One route's preprocessed rows, partitioned as the pipeline does."""
            j = stored("joined")
            fits = fits_some_bucket(pipe, F.col("height"), F.col("width"))
            rows = j.filter(fits if fit else ~fits).select("doc_id", "part", "offset", "media_ref", "image")
            n = max(sc.defaultParallelism, 8) if fit else 8
            return preprocess_spans(rows.repartition(n), pipe)

        def decoded():
            bucketed = decode_groups(stored("prep_fit"), self.weights_bc, cfg, pipe, self.n_groups_est)
            return bucketed.unionByName(decode_rows(stored("prep_fb"), self.weights_bc, cfg, pipe))

        stored("joined", joined())
        t_prep, obs = self.timed_min(
            "probe.prepro",
            lambda: _observed_noop(
                prepped(True).unionByName(prepped(False)),
                n=count,
                groups=F.collect_set(F.struct("bucket_w", "bucket_h", "salt")),
            ),
        )
        out.update({
            "inference.prepro_s": t_prep,
            "inference.prepro_rows": int(obs["n"] or 0),
            # (bucket, salt) groups of the preprocessed rows
            "inference.decode_groups": len(obs["groups"] or []),
            "inference.decode_partitions": decode_partitions(sc.defaultParallelism, self.n_groups_est),
        })
        stored("prep_fit", prepped(True))
        stored("prep_fb", prepped(False))
        out["inference.decode_s"], _ = self.timed_min("probe.decode", lambda: noop(decoded()))
        out["inference.fallback_s"], obs = self.timed_min(
            "probe.fallback",
            lambda: _observed_noop(decode_rows(stored("prep_fb"), self.weights_bc, cfg, pipe), n=count))
        out["inference.fallback_rows"] = int(obs["n"] or 0)
        stored("flat", extract_spans(spark, corpus, cfg, pipe, weights_bc=self.weights_bc))
        out["reassemble.s"], _ = self.timed_min(
            "probe.reassemble", lambda: noop(reassemble(stored("flat"))))
        t_write, _ = self.timed_min(
            "probe.reassemble_parquet",
            lambda: reassemble(stored("flat")).write.mode("overwrite").parquet(
                os.path.join(mat, "docs")))
        out["sink.write_s"] = t_write - out["reassemble.s"]
        return out

    def kernel_probes(self) -> dict[str, float]:
        """Time the UDF kernels in this process on the first ``KERNEL_SAMPLE``
        images of the media table (ordered by media_ref): PNG inflate,
        preprocessing, encoder, greedy decode (same-shape batches, as the
        decode UDF runs them)."""
        import numpy as np

        from latex_ocr_spark.fixtures.png import decode_png
        from latex_ocr_spark.fixtures.vocab import ID_END, N_TOK
        from latex_ocr_spark.kernels import image_ops
        from latex_ocr_spark.kernels.decode import AttentionDecoder
        from latex_ocr_spark.kernels.encoder import encode
        from latex_ocr_spark.kernels.weights import init_weights

        out = dict.fromkeys(KERNEL_KEYS, 0.0)
        media = pq.read_table(os.path.join(self.corpus, "media"), columns=["media_ref", "image"])
        rows = sorted(zip(media.column("media_ref").to_pylist(), media.column("image").to_pylist()))
        pngs = [png for _ref, png in rows[:KERNEL_SAMPLE]]
        if not pngs:
            return out
        weights = init_weights(self.cfg, N_TOK)
        dec = AttentionDecoder(weights, self.cfg, ID_END)
        tr = self.tracer
        with tr.span("kernels"):
            t0 = time.perf_counter()
            with tr.span("kernels.png_decode"):
                rgbs = [decode_png(p) for p in pngs]
            t1 = time.perf_counter()
            with tr.span("kernels.preprocess"):
                canvases = [image_ops.preprocess(r, buckets=list(self.pipe.buckets))[0] for r in rgbs]
            t2 = time.perf_counter()
            by_shape: dict[tuple, list] = {}
            for c in canvases:
                by_shape.setdefault(c.shape, []).append(c)
            enc_s = dec_s = 0.0
            steps = 0
            for shape in sorted(by_shape):
                batch = np.stack(by_shape[shape])
                t3 = time.perf_counter()
                with tr.span("kernels.encode"):
                    enc = encode(batch, weights, self.cfg)
                t4 = time.perf_counter()
                with tr.span("kernels.greedy_decode"):
                    ids = dec.greedy_decode(enc)
                t5 = time.perf_counter()
                enc_s += t4 - t3
                dec_s += t5 - t4
                steps += ids.shape[1]
        out.update({
            "kernels.png_decode_s": t1 - t0,
            "kernels.preprocess_s": t2 - t1,
            "kernels.encode_s": enc_s,
            "kernels.greedy_decode_s": dec_s,
            "kernels.images": len(rgbs),
            "kernels.pixels": sum(r.shape[0] * r.shape[1] for r in rgbs),
            "kernels.decode_steps": steps,
        })
        return out

    def probes(self, last_pass: int) -> dict[str, float]:
        """Per-layer metrics of a traced run; ``last_pass`` is the newest
        pass, whose output is still on disk."""
        raise NotImplementedError

    def layer_parts(self, layers: dict[str, float]) -> dict[str, float]:
        """The layer walls that together make up one pass."""
        raise NotImplementedError


class ExtractMedia(Workload):
    name = "extract_media"

    @classmethod
    def load_expected(cls, corpus: str, wrong: bool = False):
        from latex_ocr_spark.config import ModelConfig

        expected = inputs.expected_documents(corpus, ModelConfig.bench())
        if wrong:
            doc = min(expected)
            kind, text, ref, off = expected[doc][0]
            expected[doc][0] = (kind, (text or "") + " #", ref, off)
        return expected

    def run_pass(self, i: int) -> None:
        from latex_ocr_spark.pipeline import extract_documents

        with self.tracer.span("pipeline.extract_documents"):
            docs = extract_documents(
                self.spark, self.corpus, self.cfg, self.pipe, weights_bc=self.weights_bc
            )
        with self.tracer.span("sink.write"):
            docs.write.mode("overwrite").parquet(self.out_dir(i))

    def check(self, i: int) -> tuple[int, bool]:
        """Span-sequence equality with the oracle, document by document."""
        rows = pq.read_table(self.out_dir(i), columns=["doc_id", "spans"]).to_pylist()
        got = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in rows
        }
        return len(rows), len(rows) == len(got) and got == self.expected

    def probes(self, last_pass: int) -> dict[str, float]:
        out = dict.fromkeys(DAILY_KEYS, 0.0)  # this workload runs no daily stage
        out.update(self.extraction_probes())
        out.update(self.kernel_probes())
        return out

    def layer_parts(self, layers: dict[str, float]) -> dict[str, float]:
        return {k: layers[k] for k in (
            "pipeline.explode_join_s", "inference.prepro_s", "inference.decode_s",
            "reassemble.s", "sink.write_s")}


class DailyText(Workload):
    name = "daily_text"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.stages: dict = {}
        self.reference: tuple | None = None  # (rows, content hash) of pass 0

    @classmethod
    def load_expected(cls, corpus: str, wrong: bool = False):
        return {"wrong": wrong}  # the reference is the first pass's output

    def setup(self) -> None:
        """Nothing to share: ``run_with_checkpoint`` broadcasts the weights
        and estimates the decode groups in every pass."""

    def run_pass(self, i: int) -> None:
        from latex_ocr_spark.operators.checkpoint import run_daily_pipeline, run_with_checkpoint

        out = self.out_dir(i)
        with self.tracer.span("checkpoint.run_with_checkpoint"):
            run_with_checkpoint(self.spark, self.corpus, out, cfg=self.cfg, pipe=self.pipe)
        with self.tracer.span("checkpoint.run_daily_pipeline"):
            self.stages = run_daily_pipeline(self.spark, out, out)

    def lineage(self, i: int) -> list[dict]:
        rows = []
        for path in glob.glob(os.path.join(self.out_dir(i), "_checkpoint", "*.json")):
            with open(path) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
        return rows

    def check(self, i: int) -> tuple[int, bool]:
        """Every stage ran, and the final corpus has the same row count and
        content hash as the first pass's."""
        done = [r for r in self.lineage(i) if r["status"] == "done"]
        n_docs = sum(r["n_docs"] for r in done)
        mixed = pq.read_table(os.path.join(self.out_dir(i), "mixed"), columns=["doc_id", "text"])
        h = hashlib.sha1()
        for d, t in sorted(zip(mixed.column("doc_id").to_pylist(), mixed.column("text").to_pylist())):
            h.update(f"{d}\t{t}\n".encode())
        got = (mixed.num_rows, h.hexdigest() + ("#" if self.expected["wrong"] else ""))
        if self.reference is None:
            self.reference = (mixed.num_rows, h.hexdigest())
        ran = all(v != "skipped" for v in self.stages.values())
        return n_docs, ran and got == self.reference

    def probes(self, last_pass: int) -> dict[str, float]:
        from pyspark.sql import functions as F

        from latex_ocr_spark.operators import checkpoint as C
        from latex_ocr_spark.operators import dedup as D
        from latex_ocr_spark.operators import text_analysis as TA
        from latex_ocr_spark.operators.checkpoint import completed_parts, stage_done
        from latex_ocr_spark.pipeline import broadcast_weights
        from latex_ocr_spark.sources import read_docs

        spark, tr = self.spark, self.tracer
        out = self.out_dir(last_pass)
        out_m = dict.fromkeys(KERNEL_KEYS, 0.0)  # text-only: no image to time
        out_m.update(self.extraction_probes(media=False))

        lineage = self.lineage(last_pass)
        done = [r for r in lineage if r["status"] == "done"]
        by_status = {r["status"]: r for r in lineage if r["part"] == -1}
        marks = {"curate": "curated", "dedup": "deduped", "budget": "budgeted", "mix": "mixed"}
        extracted = sum(r["n_docs"] for r in done)
        out_m["checkpoint.extract_write_s"] = sum(r["wall_s"] for r in done)
        out_m["checkpoint.parts_written"] = len(done)
        for s in DAILY_STAGES:
            out_m[f"checkpoint.stage_s.{s}"] = by_status[marks[s]]["wall_s"]
        curated_n = by_status["curated"]["n_docs"]
        out_m["text_analysis.kept_frac"] = curated_n / max(extracted, 1)
        out_m["dedup.removed"] = curated_n - by_status["deduped"]["n_docs"]

        # The driver-side work of a pass outside the per-part and per-stage
        # writes: the weights broadcast and the resume checks.
        with tr.span("probe.bookkeeping"):
            t0 = time.perf_counter()
            broadcast_weights(spark, self.cfg)
            read_docs(spark, self.corpus).select("part").distinct().collect()
            completed_parts(spark, out)
            for s in DAILY_STAGES:
                stage_done(spark, out, s)
            out_m["checkpoint.bookkeeping_s"] = time.perf_counter() - t0
        # A stage's lineage wall covers its output write, not the jobs it runs
        # while building its DataFrame (dedup's eager connected-components
        # iterations); the stage calls, rerun on this pass's dir, cover both.
        runners = {
            "curate": lambda: C.run_curate_stage(spark, out, out),
            "dedup": lambda: C.run_dedup_stage(spark, out),
            "budget": lambda: C.run_budget_stage(spark, out),
            "mix": lambda: C.run_mix_stage(spark, out),
        }
        for s in DAILY_STAGES:
            with tr.span(f"probe.stage.{s}"):
                t0 = time.perf_counter()
                runners[s]()
                out_m[f"checkpoint.stage_call_s.{s}"] = time.perf_counter() - t0
        spark.catalog.clearCache()

        docs = spark.read.parquet(os.path.join(out, "docs"))
        flat = docs.select(
            F.split("doc_id", "-").getItem(1).cast("long").alias("doc_id"),
            F.concat_ws(" ", F.transform("spans", lambda s: s["text"])).alias("text"),
        )
        curated = spark.read.parquet(os.path.join(out, "curated"))
        deduped = spark.read.parquet(os.path.join(out, "deduped"))
        out_m["text_analysis.curate_s"], _ = self.timed_min(
            "probe.curate", lambda: noop(TA.curate_corpus(flat)))
        out_m["dedup.minhash_pairs_s"], obs = self.timed_min(
            "probe.minhash_pairs",
            lambda: _observed_noop(D.minhash_lsh_pairs(curated, n=3, threshold=0.5),
                                   n=F.count(F.lit(1))))
        out_m["dedup.pairs"] = int(obs["n"] or 0)
        out_m["text_analysis.token_count_s"], _ = self.timed_min(
            "probe.token_count", lambda: noop(TA.token_count(deduped, keep_text=True)))
        return out_m

    def layer_parts(self, layers: dict[str, float]) -> dict[str, float]:
        keys = ("checkpoint.extract_write_s", "checkpoint.bookkeeping_s",
                *(f"checkpoint.stage_call_s.{s}" for s in DAILY_STAGES))
        return {k: layers[k] for k in keys}


WORKLOADS = {w.name: w for w in (ExtractMedia, DailyText)}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
