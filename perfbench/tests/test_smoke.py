"""Smoke tests of the benchmark: tiny inputs, every metric named in
BENCHMARK.json reported with its unit, a wrong output counted as failed, and
seeded inputs.

    python3 -m pytest perfbench/tests -q

Each run test starts its own Spark session (about a minute each); the first
input set of a cache dir starts one more, in the child that builds the full
corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None


def assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["metrics"].keys() == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], float)


@pytest.mark.parametrize("workload,trace", [("extract_media", "0"), ("daily_text", "1")])
def test_tiny_run_reports_every_metric(workload, trace):
    code, result = run_bench("--workload", workload, "--trace", trace, "--tiny")
    assert code == 0
    assert_metrics(result, BENCH["end_to_end"] if trace == "0" else BENCH["per_layer"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    if trace == "0":
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in BENCH["end_to_end"])


def test_wrong_output_counts_as_failed():
    code, result = run_bench("--workload", "extract_media", "--trace", "0", "--tiny",
                             "--inject-wrong")
    assert code == 0
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 2


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, result = run_bench("--workload", "extract_media", "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and result is None


@pytest.fixture(scope="module")
def cache(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp("cache"))


def test_inputs_are_seeded(cache):
    a = inputs.read_corpus_docs(inputs.ensure(cache, "daily_text", 3, tiny=True))
    shutil.rmtree(inputs.case_dir(cache, "daily_text", 3, tiny=True))
    b = inputs.read_corpus_docs(inputs.ensure(cache, "daily_text", 3, tiny=True))
    c = inputs.read_corpus_docs(inputs.ensure(cache, "daily_text", 4, tiny=True))
    assert a == b
    assert a != c


def corpus_rows(corpus: str) -> tuple[list, list]:
    import pyarrow.dataset as ds

    docs = ds.dataset(os.path.join(corpus, "docs"), format="parquet", partitioning="hive")
    media = ds.dataset(os.path.join(corpus, "media"), format="parquet")
    return (sorted(docs.to_table().to_pylist(), key=lambda r: r["doc_id"]),
            sorted(media.to_table().to_pylist(), key=lambda r: r["media_ref"]))


def test_seed_corpus_is_build_corpus_of_its_sample(cache, tmp_path, monkeypatch):
    """A seed's corpus, taken from the full build, holds the rows that
    sources.build_corpus derives from the seed's sample alone."""
    from latex_ocr_spark.session import get_spark
    from latex_ocr_spark.sources import build_corpus

    from perfbench.trace import stop_spark

    corpus = inputs.ensure(cache, "extract_media", 5, tiny=True)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    spark = get_spark("perfbench-test", cores=2)
    try:
        build_corpus(spark, os.path.join(os.path.dirname(corpus), "src"),
                     out_dir=str(tmp_path / "ref"))
    finally:
        stop_spark(spark)
    docs, media = corpus_rows(corpus)
    assert docs and media
    assert (docs, media) == corpus_rows(str(tmp_path / "ref"))


def test_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 5.0, 10.0])
    monkeypatch.setattr(time, "perf_counter", lambda: next(clock))
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    assert tr.self_times() == {"outer": 7.0, "a": 2.0, "b": 1.0}
