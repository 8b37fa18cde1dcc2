"""Span-log sources (SURVEY §2.1 S1-S4).

- S1 JSONL directory scan  -> ``read_span_jsonl``
- S2 single JSON array file -> ``read_span_json``
- S3 zip-of-JSON            -> ``read_spans_from_zip``
- S4 GitHub artifact source -> ``sources.github`` (driver-side connector)

All readers apply the explicit SPAN_SCHEMA (no inference — inference is a
full extra pass over 100 TB) in PERMISSIVE mode so missing keys become
nulls, matching the reference's missing-path tolerance
(opentelemetry_helpers.py:53-73, 373-381).
"""

from __future__ import annotations

import io
import json
import zipfile
from pathlib import Path
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from .schema import SPAN_SCHEMA


def read_span_jsonl(spark: SparkSession, path: str | Path) -> DataFrame:
    """S1: spans from JSON-lines files (dir, glob or single file).

    Reference behavior: ``_get_all_spans`` globs /tmp/spans/*.txt and
    parses each line (opentelemetry_helpers.py:499-500).
    """
    return spark.read.schema(SPAN_SCHEMA).option("mode", "PERMISSIVE").json(str(path))


def read_span_json(spark: SparkSession, path: str | Path) -> DataFrame:
    """S2: spans from one JSON file holding an array of span objects
    (reference: cli_pynb_log_parser.py:120, helpers.py:250-252)."""
    return (
        spark.read.schema(SPAN_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .json(str(path))
    )


SPANS_ZIP_MEMBER = "opentelemetry-spans.json"


def spans_from_zip_bytes(zip_bytes: bytes, member: str = SPANS_ZIP_MEMBER) -> list[dict]:
    """Extract the span array from one zip blob (reference:
    cli_generate_static_data.py:50-65)."""
    with zipfile.ZipFile(io.BytesIO(zip_bytes)) as zf:
        with zf.open(member) as f:
            return json.load(f)


def read_spans_from_zip(
    spark: SparkSession, zips: Iterable[bytes], member: str = SPANS_ZIP_MEMBER
) -> DataFrame:
    """S3: spans from zip archives given as byte blobs (the reference's
    shape). The blobs are unzipped on the driver, which already holds
    them, and the spans handed to Spark as JSON lines."""
    all_spans: list[str] = []
    for blob in zips:
        all_spans.extend(json.dumps(s) for s in spans_from_zip_bytes(blob, member))
    return spark.read.schema(SPAN_SCHEMA).json(
        spark.sparkContext.parallelize(all_spans or [""])
    )
