"""Multimodal (image/audio/video) column operators (north-star L5).

Design for 100 TB media processing on Spark:

- Media is an opaque ``binary`` payload column plus a typed metadata
  struct — never decoded at rest; parquet stores blobs column-oriented
  and predicate pushdown on metadata prunes before any byte touches
  Python.
- Ingest: any table with a binary column, such as the ``content`` of
  ``spark.read.format("binaryFile")``.
- Processing: Arrow-batched ``mapInPandas`` — bytes cross the JVM→Python
  boundary once per batch, not per row. The default codec is the REAL
  dependency-free ``codecs.stdlib_codec`` (PNM images, WAV PCM audio,
  concatenated-PNM video streams — actual byte-level decode/resize/
  frame-sampling); formats needing external libraries (JPEG/MP4/...)
  raise NotImplementedError until production injects a PIL/librosa/pyav
  wrapper through the same ``codec=`` seam.

reference parity note: the reference has no media pipeline; this extends
the artefact model (SURVEY §2.10) where binary artifacts already flow
through the span log as base64 (task_opentelemetry_logging.py:124-143).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)


def synthetic_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in media table derived from the documents
    testdata (payload = utf-8 bytes of the text): exercises the binary
    column plumbing end-to-end without real codecs."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes, kind: str, op: str = "decode", **kwargs):
    """Raising codec, for callers that want plumbing-only runs to fail
    fast rather than touch payload bytes.

    Codec contract (any callable with this signature can be injected;
    ``codecs.stdlib_codec`` is the real default):
      codec(payload, kind, op="decode")                  -> {"pixels": bytes}
      codec(payload, kind, op="resize", width=, height=) -> {"payload": bytes,
                                                             "width": int, "height": int}
      codec(payload, kind, op="frames", every_ms=)       -> {"frames":
                                          [(frame_idx, frame_ms, frame_bytes), ...]}
    """
    raise NotImplementedError(
        "explicit no-codec mode; inject a codec callable "
        "(default operators use codecs.stdlib_codec)"
    )


def _default_codec():
    from .codecs import stdlib_codec

    return stdlib_codec


_FEATURE_DIM = 16


def extract_features(
    media: DataFrame, deterministic_features: bool = True, codec=None
) -> DataFrame:
    """Feature extraction over media payloads via Arrow-batched
    mapInPandas: one Python roundtrip per batch of rows.

    With ``deterministic_features`` the inner step is a real computation
    on raw bytes (16-bucket byte histogram, normalised) — codec-free and
    deterministic. With it off, the injected ``codec`` (contract on ``_decode_stub``;
    default ``codecs.stdlib_codec``) decodes each
    payload and the histogram runs over the decoded pixels instead —
    production injects a PIL/librosa wrapper without editing this
    operator.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    codec = codec or _default_codec()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                data = bytes(payload)
                if not deterministic_features:
                    data = bytes(codec(data, kind, op="decode")["pixels"])
                hist = [0] * _FEATURE_DIM
                for b in data:
                    hist[b % _FEATURE_DIM] += 1
                total = max(len(data), 1)
                rows.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "n_bytes": len(data),
                        # no Python round() here: banker's rounding differs
                        # from SQL HALF_UP; downstream F.round decides
                        "features": [h / total for h in hist],
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "n_bytes", "features"])

    return media.select("media_id", "kind", "payload").mapInPandas(run, out_schema)


def resize_images(media: DataFrame, width: int, height: int, codec=None) -> DataFrame:
    """Image resize operator — full Spark plumbing; the pixel work comes
    from the injected ``codec`` (default: real ``codecs.stdlib_codec``).

    Returns the same MEDIA_SCHEMA with payload replaced by the codec's
    re-encoded bytes and meta.width/height set to the target size."""
    out_schema = media.schema
    codec = codec or _default_codec()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, metas = [], []
            for payload, kind, meta in zip(pdf["payload"], pdf["kind"], pdf["meta"]):
                out = codec(bytes(payload), kind, op="resize", width=width, height=height)
                payloads.append(out["payload"])
                meta = dict(meta) if meta is not None else {
                    "mime": None, "width": None, "height": None,
                    "duration_ms": None, "n_bytes": None,
                }
                meta["width"] = out["width"]
                meta["height"] = out["height"]
                meta["n_bytes"] = len(out["payload"])
                metas.append(meta)
            pdf = pdf.assign(payload=payloads, meta=metas)
            yield pdf

    return media.mapInPandas(run, out_schema)


def sample_video_frames(media: DataFrame, every_ms: int = 1000, codec=None) -> DataFrame:
    """Frame-sampling operator — one output row per sampled frame, frames
    produced by the injected ``codec`` (default: real ``codecs.stdlib_codec``).
    The explode shape, schema and Arrow batching are codec-independent."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_ms", T.LongType()),
            T.StructField("frame_payload", T.BinaryType()),
        ]
    )
    codec = codec or _default_codec()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, kind in zip(
                pdf["media_id"], pdf["payload"], pdf["kind"]
            ):
                out = codec(bytes(payload), kind, op="frames", every_ms=every_ms)
                for frame_idx, frame_ms, frame_bytes in out["frames"]:
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": frame_idx,
                            "frame_ms": frame_ms,
                            "frame_payload": frame_bytes,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_ms", "frame_payload"]
            )

    return media.mapInPandas(run, out_schema)


def media_checksums(media: DataFrame) -> DataFrame:
    """Pure-JVM integrity pass over payloads (no Python): md5 + length.
    The always-available fast path for dedup of media blobs."""
    return media.select(
        "media_id",
        "kind",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("long").alias("n_bytes"),
    )
