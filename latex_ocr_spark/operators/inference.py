"""The bucketed-batch inference operator — the heart of the engine.

One JVM exchange, then one pandas-UDF stage (and nothing per-row-Python
anywhere, north rule):

  1. ``decode_key``: the exchange key, computed in the JVM from the media
     table's stored (height, width) — the first-fit shape bucket (G1, the
     reference's model/utils/data_generator.py:84-122) — plus a salt,
     crc32(media_ref) % salt_buckets, that splits hot buckets (SURVEY.md §7
     'Skew'). It only decides which rows share a partition.
  2. ``decode_media`` (mapInPandas over the hash-partitioned rows): per
     Arrow batch, PNG decode → greyscale (P1) → crop (P3) → pad-to-bucket
     (P4) → downsample (P5), then batches same-shape canvases into dense
     uint8 tensors (G3) and runs the CNN encoder + attention LSTM decode
     (M1-M8) with broadcast weights, chunked by a pixel budget so UDF memory
     is one Arrow batch of canvases plus one chunk of activations.

The kernels are batch-invariant, so which rows share a batch never changes
the output. Each Python task costs a fixed worker set-up on top of its
kernels, so the stage count, not the kernels, sets the floor on small
passes: one stage keeps the task count at ``decode_partitions``.

``preprocess_spans`` (prepro alone, keyed by the bucket of the actual
canvas) feeds the perplexity metric; ``decode_groups``/``decode_rows``
decode its output through the same per-batch decoder.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PAD_SIZE, ModelConfig, PipelineConfig
from ..fixtures.png import decode_png
from ..fixtures.vocab import ID_END, ID_TO_TOK
from ..kernels import image_ops
from ..kernels.beam import beam_decode
from ..kernels.decode import AttentionDecoder
from ..kernels.encoder import encode
from ..kernels.text_ops import decode_ids_to_latex

PREP_SCHEMA = (
    "doc_id string, part int, `offset` int, media_ref string, "
    "bucket_w int, bucket_h int, salt int, ch int, cw int, canvas binary"
)
DECODED_SCHEMA = (
    "doc_id string, part int, `offset` int, media_ref string, "
    "latex string, n_tokens int"
)


def preprocess_spans(media_joined: DataFrame, pipe: PipelineConfig) -> DataFrame:
    """(doc_id, part, offset, media_ref, image) → prepro'd canvases + bucket
    keys. ``part`` (the source identity-partition) is carried through the UDF
    so downstream sinks never re-derive it from the doc_id string — any
    DOCS_SCHEMA-conforming corpus keeps its own partition assignment."""
    buckets = list(pipe.buckets)
    n_salt = pipe.salt_buckets

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "part", "offset", "media_ref", "bucket_w", "bucket_h",
                "salt", "ch", "cw", "canvas")}
            for doc_id, part, offset, ref, png in zip(
                pdf["doc_id"], pdf["part"], pdf["offset"], pdf["media_ref"],
                pdf["image"],
            ):
                rgb = decode_png(bytes(png))
                canvas, bw, bh, _ok = image_ops.preprocess(rgb, buckets=buckets)
                out["doc_id"].append(doc_id)
                out["part"].append(int(part))
                out["offset"].append(int(offset))
                out["media_ref"].append(ref)
                out["bucket_w"].append(int(bw))
                out["bucket_h"].append(int(bh))
                # deterministic salt, independent of partitioning
                out["salt"].append(zlib.crc32(ref.encode()) % n_salt)
                out["ch"].append(canvas.shape[0])
                out["cw"].append(canvas.shape[1])
                out["canvas"].append(np.ascontiguousarray(canvas).tobytes())
            yield pd.DataFrame(out)

    return media_joined.mapInPandas(run, schema=PREP_SCHEMA)


def decode_key(pipe: PipelineConfig):
    """(bucket, salt) columns of the decode exchange, computed in the JVM
    from a media row's stored (height, width) and its media_ref: the
    first-fit bucket of the RAW dims (bucket id ``len(pipe.buckets)`` when
    none fits, or when the dims are null) and crc32(media_ref) %
    salt_buckets — the same salt ``preprocess_spans`` assigns. The raw-dims
    bucket approximates the post-crop one (crop shrinks, pad adds 16px);
    it only places rows, the UDF batches by actual canvas shape."""
    bucket_id = F.lit(len(pipe.buckets))  # fallback: oversized
    for i in range(len(pipe.buckets) - 1, -1, -1):
        bw, bh = pipe.buckets[i]
        bucket_id = F.when(
            (F.col("width") <= bw) & (F.col("height") <= bh), F.lit(i)
        ).otherwise(bucket_id)
    salt = F.crc32(F.encode("media_ref", "utf-8")) % pipe.salt_buckets
    return bucket_id.alias("bucket"), salt.alias("salt")


def estimate_decode_groups(media_tbl: DataFrame, pipe: PipelineConfig) -> int:
    """Cheap metadata-only count of the media table's distinct
    ``decode_key`` values — the partition-sizing input, NOT a correctness
    input. One narrow distinct-count vs the decode stage's wall — the stats
    lookup a warehouse would serve from table metadata at 100 TB (Iceberg
    partition stats / NDV sketches)."""
    return media_tbl.select(*decode_key(pipe)).distinct().count()


def fits_some_bucket(pipe: PipelineConfig, height_col, width_col):
    """Conservative metadata predicate: a raw (height, width) that fits a
    bucket after padding is GUARANTEED in-bucket after crop+pad (crop only
    shrinks, image_ops.get_new_size). Extraction no longer routes on it —
    ``decode_media`` decodes every shape in one stage — but the layer
    probes use it to split bucketed from oversized rows."""
    top, left, bottom, right = PAD_SIZE
    cond = F.lit(False)
    for bw, bh in pipe.buckets:
        cond = cond | (
            (width_col + (left + right) <= bw)
            & (height_col + (top + bottom) <= bh)
        )
    return cond


def _canvas(png, buckets) -> np.ndarray | None:
    """Preprocessed canvas of one PNG; None when the image is missing (a
    dangling media_ref) or undecodable (corrupt or zero-length bytes)."""
    if png is None:
        return None
    try:
        canvas, _bw, _bh, _ok = image_ops.preprocess(
            decode_png(bytes(png)), buckets=buckets
        )
    except (ValueError, struct.error, zlib.error):
        return None
    return canvas


def _make_decoder(weights_bc, cfg_dict: dict, budget: int):
    """decode(pdf, canvases) → a DECODED_SCHEMA frame for one Arrow batch:
    canvases (2-D uint8 arrays, None for a row without an image, which gets
    latex NULL) are stacked by shape into chunks of at most ``budget``
    pixels, so memory is bounded by the batch, not by any group size."""

    def decode(pdf, canvases):
        import pandas as pd

        mcfg = ModelConfig.from_dict(cfg_dict)
        weights = weights_bc.value
        dec = AttentionDecoder(weights, mcfg, ID_END)
        by_shape: dict[tuple, list[int]] = {}
        for i, c in enumerate(canvases):
            if c is not None:
                by_shape.setdefault(c.shape, []).append(i)
        latex = [None] * len(canvases)
        for (ch, cw), idx in sorted(by_shape.items()):
            n_per_batch = max(1, budget // max(ch * cw, 1))
            for s in range(0, len(idx), n_per_batch):
                chunk = idx[s : s + n_per_batch]
                enc = encode(np.stack([canvases[i] for i in chunk]), weights, mcfg)
                if mcfg.decoding == "beam_search":
                    out_ids = beam_decode(dec, enc)[:, 0, :]
                else:
                    out_ids = dec.greedy_decode(enc)
                for i, row_ids in zip(chunk, out_ids):
                    latex[i] = decode_ids_to_latex(row_ids, ID_END, ID_TO_TOK)
        return pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(),
            "part": pdf["part"].to_numpy(),
            "offset": pdf["offset"].to_numpy(),
            "media_ref": pdf["media_ref"].to_numpy(),
            "latex": latex,
            "n_tokens": [len(t.split(" ")) if t else 0 for t in latex],
        })

    return decode


def decode_partitions(cores: int, n_groups_est: int | None = None) -> int:
    """Decode-exchange partition count (measured, round-robin min-of-rounds
    at sf0.1): the optimum TRACKS THE GROUP COUNT, not the core count —
    ~groups/10 (≈60 partitions for ~600 groups) wins at 8, 16 AND 32
    cores (local[8]: 27.6 s vs 32.3 s with 2×cores; local[16]: 12.0 vs
    15.4; local[32]: 64 ≈ both formulas). Floor of 2× total cores keeps
    small corpora from under-splitting."""
    if n_groups_est:
        return max(round(n_groups_est / 10), 2 * cores, 16)
    return max(2 * cores, 16)


def decode_media(
    joined: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
    n_groups_est: int | None = None,
) -> DataFrame:
    """Media rows (doc_id, part, offset, media_ref, image, height, width) →
    decoded LaTeX: one hash exchange on ``decode_key``, then one
    mapInPandas that preprocesses and decodes each Arrow batch. A row whose
    image is missing or undecodable keeps its span with latex NULL.

    Explicit partition count: AQE's size-based coalescing would fold the
    exchange of small PNG rows down to a couple of partitions and serialize
    the UDF, so a user-specified count pins the stage's parallelism."""
    decode = _make_decoder(weights_bc, cfg.to_dict(), pipe.batch_pixel_budget)
    buckets = list(pipe.buckets)

    def run(batches):
        for pdf in batches:
            yield decode(pdf, [_canvas(png, buckets) for png in pdf["image"]])

    sc = joined.sparkSession.sparkContext
    n_parts = decode_partitions(sc.defaultParallelism, n_groups_est)
    return (
        joined.repartition(n_parts, *decode_key(pipe))
        .select("doc_id", "part", "offset", "media_ref", "image")
        .mapInPandas(run, schema=DECODED_SCHEMA)
    )


def _decode_prepped(prepped: DataFrame, weights_bc, cfg, pipe) -> DataFrame:
    """``preprocess_spans`` output → decoded LaTeX through the same
    per-batch decoder as ``decode_media``."""
    decode = _make_decoder(weights_bc, cfg.to_dict(), pipe.batch_pixel_budget)

    def run(batches):
        for pdf in batches:
            yield decode(pdf, [
                np.frombuffer(c, dtype=np.uint8).reshape(h, w)
                for c, h, w in zip(pdf["canvas"], pdf["ch"], pdf["cw"])
            ])

    return prepped.mapInPandas(run, schema=DECODED_SCHEMA)


def decode_groups(
    prepped: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
    n_groups_est: int | None = None,
) -> DataFrame:
    """Decode of preprocessed rows hash-partitioned on their actual
    (bucket_w, bucket_h, salt)."""
    sc = prepped.sparkSession.sparkContext
    n_parts = decode_partitions(sc.defaultParallelism, n_groups_est)
    return _decode_prepped(
        prepped.repartition(n_parts, "bucket_w", "bucket_h", "salt"),
        weights_bc, cfg, pipe,
    )


def decode_rows(
    prepped: DataFrame,
    weights_bc,
    cfg: ModelConfig,
    pipe: PipelineConfig,
) -> DataFrame:
    """Decode of preprocessed rows spread round-robin, one partition per
    core (at least 8)."""
    sc = prepped.sparkSession.sparkContext
    return _decode_prepped(
        prepped.repartition(max(sc.defaultParallelism, 8)), weights_bc, cfg, pipe
    )
