"""The media decode stage: one JVM-keyed exchange then one Python exec node
in the executed plan, and defined output for bad media rows — a dangling
media_ref or an undecodable image keeps its span in place with text NULL,
and every other span still equals the single-process oracle."""

from __future__ import annotations

import re

from latex_ocr_spark.config import ModelConfig, PipelineConfig
from latex_ocr_spark.fixtures.glyphs import render_formula
from latex_ocr_spark.fixtures.png import encode_png
from latex_ocr_spark.kernels.oracle import Model, oracle_decode_images
from latex_ocr_spark.pipeline import extract_spans, extract_spans_from_docs
from latex_ocr_spark.sources import DOCS_SCHEMA, MEDIA_SCHEMA

FORMULAS = [r"a + b", r"\frac x y", "1 + 2"]


def _extract(spark, spans, media, pipe=None):
    """extract_spans_from_docs over one document built in memory →
    (cfg, {offset: row})."""
    cfg = ModelConfig.small()
    docs = spark.createDataFrame([("doc-0000", 0, spans)], DOCS_SCHEMA)
    media_tbl = spark.createDataFrame(media, MEDIA_SCHEMA)
    flat = extract_spans_from_docs(spark, docs, media_tbl, cfg=cfg, pipe=pipe)
    return cfg, {r.offset: r for r in flat.collect()}


def _good_media():
    imgs = [render_formula(f, 1) for f in FORMULAS]
    rows = [
        (f"good-{i}.png", bytearray(encode_png(img)), img.shape[0], img.shape[1], f)
        for i, (img, f) in enumerate(zip(imgs, FORMULAS))
    ]
    return imgs, rows


def test_dangling_media_ref_keeps_span_with_null_text(spark):
    imgs, media = _good_media()
    spans = [
        ("text", "before ", None, 0),
        ("media", None, "good-0.png", 1),
        ("media", None, "missing.png", 2),
        ("text", " after", None, 3),
    ]
    cfg, got = _extract(spark, spans, media[:1])
    assert sorted(got) == [0, 1, 2, 3]
    assert (got[2].kind, got[2].text, got[2].media_ref) == ("media", None, "missing.png")
    assert got[1].text == oracle_decode_images(imgs[:1], Model(cfg))[0]
    assert (got[0].text, got[3].text) == ("before ", " after")


def test_bad_png_nulls_its_span_and_the_job_completes(spark):
    """A truncated PNG, non-PNG bytes and a zero-length image sit in the
    same Arrow batch as good images (one salt and equal stored dims put
    every row on one partition): the three bad spans get text NULL, the
    good ones still equal the oracle."""
    imgs, media = _good_media()
    png = bytes(media[0][1])
    bad = {
        "truncated.png": png[: len(png) // 2],
        "garbage.png": b"not a png at all",
        "empty.png": b"",
    }
    media += [(ref, bytearray(b), 0, 0, "") for ref, b in bad.items()]
    media = [(ref, b, 50, 200, t) for ref, b, _h, _w, t in media]
    refs = ["good-0.png", "truncated.png", "good-1.png", "garbage.png",
            "empty.png", "good-2.png"]
    spans = [("text", "t", None, 0)] + [
        ("media", None, ref, i + 1) for i, ref in enumerate(refs)
    ]
    cfg, got = _extract(spark, spans, media, pipe=PipelineConfig(salt_buckets=1))
    assert sorted(got) == list(range(len(refs) + 1))
    expected = dict(zip(
        ["good-0.png", "good-1.png", "good-2.png"],
        oracle_decode_images(imgs, Model(cfg)),
    ))
    for off, ref in enumerate(refs, start=1):
        assert got[off].media_ref == ref
        assert got[off].text == expected.get(ref), ref


def test_media_path_is_one_exchange_then_one_python_node(spark, corpus):
    """Executed plan of extract_spans: exactly one Python exec node
    (MapInPandas or MapInArrow), no grouped pandas UDF, and exactly one
    shuffle Exchange between the media left join and that node."""
    flat = extract_spans(spark, corpus, cfg=ModelConfig.small(), parts=[0])
    flat.collect()
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    py = [i for i, line in enumerate(final) if re.search(r"\bMapIn(Pandas|Arrow)\b", line)]
    assert len(py) == 1, plan
    assert "FlatMapGroupsIn" not in plan
    join = next(i for i in range(py[0], len(final)) if "Join" in final[i])
    assert "LeftOuter" in final[join]
    between = final[py[0] + 1 : join]
    assert sum(bool(re.search(r"\bExchange\b", line)) for line in between) == 1, plan
