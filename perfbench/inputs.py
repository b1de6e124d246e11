"""Seeded benchmark inputs: source documents, the engine's corpus, and the
expected output of each extraction workload.

    python3 -m perfbench.inputs <cache> [--spark-conf JSON]   # the full corpus

Source documents are sampled from ``perfbench/data/documents.parquet``, a
verbatim copy of the sf0.1 testdata ``documents.parquet`` (5,000 documents,
doc_id 0–4,999, sha256 d10b0da6…cf82); the benchmark reads only its own
checkout, so the file travels with it. The sample is turned into the
engine's corpus by ``sources.build_corpus``. Its derivation rule
(``fixtures/corpus.py``) fixes each document's media count from its doc_id:

    n_media = doc_id % 3 + (12 if doc_id % 97 == 0 else 0)

and each image's content from ``k = 131 * doc_id + j``: ``k % 211 == 0`` is an
image larger than every bucket (the row-parallel fallback decode), ``k % 101``
a long formula, ``k % 53`` an all-white image. Choosing doc_ids therefore
chooses how much decode work a workload carries:

* ``daily_text``: the text-only docs (``doc_id % 3 == 0``, never
  ``% 97 == 0``) of identity partition ``seed % 16`` (``part = doc_id % 16``),
  the unit ``job.py --parts`` processes; every partition holds 103 or 104 of
  them, so there are 16 distinct daily inputs.
* extraction: ``MEDIA_DOCS`` docs drawn from the docs that carry media, class
  by class. The classes are one-image, two-image, heavy (``doc_id % 97 == 0``,
  12–14 images) and oversized (an image with ``k % 211 == 0``). Each class
  gets its share of the source's media docs (one:two is 1:1), except heavy and
  oversized, whose shares (1.5 % and 0.75 %) round to none at this size: they
  get one doc each, so that every pass runs the heavy-doc and fallback routes.
  Fixed class counts keep the number of images, and the decode routes they
  take, the same from seed to seed; their summed area still varies by about
  ±20 %.

The engine's corpus of the whole source is built once per checkout, by
``sources.build_corpus`` in a child process with its own JVM (about 50 s,
``<cache>/full``), so the measured process starts its JVM cold on every run.
That JVM also writes a class archive (``class_archive``) as it exits, which
every measured session maps: session start-up falls from 7-9 s to 4-6 s.
A seed's corpus is then the rows of its doc_ids, copied with pyarrow into
the layout ``build_corpus`` writes (``docs/part=<k>/``, ``media/`` in 8
files): the derivation rule is per doc_id, so these rows are the ones
``build_corpus`` derives from the seed's sample alone (a smoke test checks
this). A seed's inputs, the oracle decodes included, take about 2 s, and
are cached under ``<cache>/<kind>-s<seed>/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCUMENTS = os.path.join(ROOT, "perfbench", "data", "documents.parquet")

# Media docs per extraction pass: about 70 images, a pass of about 6 s on a
# 4-core host, so that 22 runs of each workload fit the benchmark's time.
MEDIA_DOCS = {False: 40, True: 4}
DAILY_DOCS_TINY = 40  # docs of the partition kept by the smoke test
N_PARTS = 16  # fixtures.corpus.N_PARTS
MEDIA_FILES = 8  # media files build_corpus writes on a host of up to 8 cores


def n_media(d: int) -> int:
    return d % 3 + (12 if d % 97 == 0 else 0)


def media_class(d: int) -> str | None:
    """The decode-work class of doc d, or None for a text-only doc."""
    n = n_media(d)
    if n == 0:
        return None
    if any((131 * d + j) % 211 == 0 for j in range(n)):  # fixtures.corpus.formula_for
        return "oversized"
    if d % 97 == 0:
        return "heavy"
    return "one" if n == 1 else "two"


def media_class_counts(ids: list[int], n: int) -> dict[str, int]:
    """Docs per class in a draw of n: one each of heavy and oversized, the
    rest split between one- and two-image docs in their source ratio."""
    pool = [c for c in map(media_class, ids) if c in ("one", "two")]
    n_one = round((n - 2) * pool.count("one") / len(pool))
    return {"heavy": 1, "oversized": 1, "one": n_one, "two": n - 2 - n_one}


def select_doc_ids(workload: str, seed: int, tiny: bool = False) -> list[int]:
    """The seeded doc_id filter of a workload."""
    ids = pq.read_table(DOCUMENTS, columns=["doc_id"]).column("doc_id").to_pylist()
    daily = workload == "daily_text"
    # the workload kind salts the seed so the two samples are independent
    rng = np.random.default_rng([seed, 1 if daily else 2])
    if daily:
        pool = sorted(d for d in ids if d % 3 == 0 and d % 97 and d % N_PARTS == seed % N_PARTS)
        if tiny:
            pool = sorted(int(d) for d in rng.choice(pool, DAILY_DOCS_TINY, replace=False))
        return pool
    out: list[int] = []
    for cls, k in media_class_counts(ids, MEDIA_DOCS[tiny]).items():
        pool = sorted(d for d in ids if media_class(d) == cls)
        out.extend(int(d) for d in rng.choice(pool, k, replace=False))
    return sorted(out)


def case_dir(cache: str, workload: str, seed: int, tiny: bool = False) -> str:
    """Cache dir of one seeded input set. Extraction workloads share one
    document sample per seed."""
    kind = "daily" if workload == "daily_text" else "media"
    return os.path.join(cache, f"{kind}-s{seed}" + ("-tiny" if tiny else ""))


def spark_conf_dir(cache: str) -> str:
    """An empty Spark conf dir. The benchmark passes every Spark setting
    itself, and the JVM's class data sharing refuses a non-empty directory
    on the class path, where Spark puts its conf dir."""
    path = os.path.join(cache, "conf")
    os.makedirs(path, exist_ok=True)
    return path


def class_archive(cache: str) -> str:
    """The JVM class archive the full-corpus build writes when its JVM exits:
    the Spark, Hadoop and Parquet classes a session loads, so that a
    measured session maps them instead of loading them one by one."""
    return os.path.join(cache, "full", "classes.jsa")


def full_corpus(cache: str, spark_conf: dict | None = None) -> str:
    """The engine's corpus of every source document, built on first use by a
    child process (``build_full``), which exits before this returns."""
    full = os.path.join(cache, "full", "corpus")
    if not os.path.isdir(full):
        cmd = [sys.executable, "-m", "perfbench.inputs", cache,
               "--spark-conf", json.dumps(spark_conf or {})]
        subprocess.run(cmd, cwd=ROOT, check=True, timeout=600)
    return full


def build_full(cache: str, spark_conf: dict) -> None:
    """Run ``sources.build_corpus`` on all of ``DOCUMENTS`` into
    ``<cache>/full``, and write the class archive, under a temporary name
    renamed into place."""
    from latex_ocr_spark.session import get_spark
    from latex_ocr_spark.sources import build_corpus

    from perfbench.trace import stop_spark

    tmp = os.path.join(cache, f"full.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_CONF_DIR"] = spark_conf_dir(cache)
    java = spark_conf.get("spark.driver.extraJavaOptions", "")
    archive = os.path.join(tmp, os.path.basename(class_archive(cache)))
    conf = {**spark_conf,
            "spark.driver.extraJavaOptions": f"{java} -XX:ArchiveClassesAtExit={archive}"}
    spark = get_spark("perfbench-inputs", cores=len(os.sched_getaffinity(0)), extra=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        build_corpus(spark, os.path.dirname(DOCUMENTS), out_dir=os.path.join(tmp, "corpus"))
    finally:
        stop_spark(spark)  # the JVM writes the archive as it exits
    os.replace(tmp, os.path.join(cache, "full"))


def _write_table(tbl: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, compression="snappy")


def ensure(cache: str, workload: str, seed: int, tiny: bool = False,
           spark_conf: dict | None = None) -> str:
    """Corpus dir for (workload, seed): the source sample in ``src/``, the
    full corpus's rows of its doc_ids in ``corpus/``, and for extraction the
    oracle decodes."""
    case = case_dir(cache, workload, seed, tiny)
    if os.path.isdir(case):
        return os.path.join(case, "corpus")
    full = full_corpus(cache, spark_conf)
    tmp = f"{case}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    ids = pa.array(select_doc_ids(workload, seed, tiny), pa.int64())
    src = pq.read_table(DOCUMENTS)
    _write_table(src.filter(pc.is_in(src.column("doc_id"), value_set=ids)),
                 os.path.join(tmp, "src", "documents.parquet"))
    keys = pa.array([f"doc-{d}" for d in ids.to_pylist()], pa.string())  # fixtures.corpus
    refs = []
    for part_dir in sorted(glob.glob(os.path.join(full, "docs", "part=*"))):
        docs = pq.read_table(part_dir, partitioning=None)
        docs = docs.filter(pc.is_in(docs.column("doc_id"), value_set=keys))
        if docs.num_rows:
            _write_table(docs, os.path.join(tmp, "corpus", "docs", os.path.basename(part_dir),
                                            "part-00000.snappy.parquet"))
            refs.extend(s["media_ref"] for spans in docs.column("spans").to_pylist()
                        for s in spans if s["kind"] == "media")
    media = pq.read_table(os.path.join(full, "media"))
    media = media.filter(pc.is_in(media.column("media_ref"), value_set=pa.array(refs, pa.string())))
    media = media.sort_by("media_ref")
    # build_corpus writes the media table in max(cores, 8) files; an empty
    # table (a text-only sample) in one
    n_files = max(1, min(MEDIA_FILES, media.num_rows))
    for f in range(n_files):
        rows = pa.array(range(f, media.num_rows, n_files), pa.int64())
        _write_table(media.take(rows), os.path.join(
            tmp, "corpus", "media", f"part-{f:05d}.snappy.parquet"))
    for table in ("docs", "media"):
        open(os.path.join(tmp, "corpus", table, "_SUCCESS"), "w").close()
    if workload != "daily_text":
        from latex_ocr_spark.config import ModelConfig

        oracle_decodes(os.path.join(tmp, "corpus"), ModelConfig.bench())
    os.replace(tmp, case)
    return os.path.join(case, "corpus")


# ---------------------------------------------------------------------------
# expected output
# ---------------------------------------------------------------------------


def read_corpus_docs(corpus: str) -> dict[str, list[tuple]]:
    """doc_id → offset-ordered (kind, text, media_ref, offset) spans of the
    corpus docs table, read with pyarrow (not through the engine)."""
    tbl = pq.read_table(os.path.join(corpus, "docs"), columns=["doc_id", "spans"])
    out: dict[str, list[tuple]] = {}
    for row in tbl.to_pylist():
        spans = sorted(row["spans"], key=lambda s: s["offset"])
        out[row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
        ]
    return out


def _oracle_fingerprint(cfg) -> str:
    from latex_ocr_spark.config import PipelineConfig
    from latex_ocr_spark.kernels import KERNELS_VERSION

    payload = {
        "kernels": KERNELS_VERSION,
        "model": cfg.to_dict(),
        "buckets": list(PipelineConfig().buckets),
    }
    return hashlib.sha1(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:8]


def oracle_path(corpus: str, cfg) -> str:
    return os.path.join(corpus, f"oracle_decodes_{_oracle_fingerprint(cfg)}.json")


def oracle_decodes(corpus: str, cfg) -> dict[str, str]:
    """media_ref → LaTeX from the single-process oracle (kernels/oracle.py),
    computed once per corpus and model fingerprint and cached as JSON, as
    fixtures/oracle_store.ensure_oracle_decodes does for the test fixtures.
    Images are rendered from the derivation rule, not read from the
    engine's media table."""
    from latex_ocr_spark.fixtures.corpus import formula_for, parse_media_ref
    from latex_ocr_spark.fixtures.glyphs import render_formula
    from latex_ocr_spark.kernels.oracle import Model, oracle_decode_images

    path = oracle_path(corpus, cfg)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    refs = sorted(
        s[2]
        for spans in read_corpus_docs(corpus).values()
        for s in spans
        if s[0] == "media"
    )
    images = [render_formula(*formula_for(*parse_media_ref(r))) for r in refs]
    decoded = oracle_decode_images(images, Model(cfg))
    out = dict(zip(refs, decoded))
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def expected_documents(corpus: str, cfg) -> dict[str, list[tuple]]:
    """doc_id → the span sequence extraction must produce: text spans as
    stored, media spans' text replaced by the oracle decode."""
    latex = oracle_decodes(corpus, cfg)
    return {
        doc: [(k, latex[m] if k == "media" else t, m, o) for k, t, m, o in spans]
        for doc, spans in read_corpus_docs(corpus).items()
    }


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="build the corpus of every source document")
    ap.add_argument("cache")
    ap.add_argument("--spark-conf", default="{}", help="extra Spark settings, as JSON")
    a = ap.parse_args()
    build_full(a.cache, json.loads(a.spark_conf))
