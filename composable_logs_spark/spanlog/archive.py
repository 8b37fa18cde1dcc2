"""Columnar span archive: JSONL span logs -> date-partitioned parquet.

Raw span logs arrive as append-only JSONL (reference emits one JSON span
per line — ``opentelemetry_helpers.py:499-500``); at scale you do not
query months of JSONL. The archive step rewrites them columnar,
partitioned by the UTC date of each span's start, so that:

- span queries scan parquet with column pruning (a task_runs summary
  reads ~6 of the span columns, not whole JSON lines),
- date-range analyses prune whole partition directories,
- the JSONL tail stays small (only the unarchived suffix needs the slow
  path; union archive + tail for a complete view).

Schema is preserved exactly (SPAN_SCHEMA both ways), so every operator
in ``plans.summarize`` runs identically on archive and raw — equivalence
is test-gated.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import SPAN_SCHEMA
from .sources import read_span_jsonl

_DATE_COL = "archive_date"


def archive_spans(
    spark: SparkSession, log_dir: str | Path, archive_dir: str | Path
) -> None:
    """Rewrite a JSONL span-log directory as a date-partitioned parquet
    archive (partition key = UTC date of span start_time, whatever the
    session time zone), one parquet file per date directory."""
    start_s = F.unix_seconds(F.to_timestamp(F.col("start_time")))
    day = F.date_from_unix_date(F.floor(start_s / 86400).cast("int"))
    spans = read_span_jsonl(spark, log_dir).withColumn(_DATE_COL, day)
    (
        spans.repartition(_DATE_COL)
        .write.mode("overwrite")
        .partitionBy(_DATE_COL)
        .parquet(str(archive_dir))
    )


def read_span_archive(spark: SparkSession, archive_dir: str | Path) -> DataFrame:
    """Archived spans with the original SPAN_SCHEMA columns (partition
    key dropped), interchangeable with ``read_span_jsonl`` output."""
    cols = [f.name for f in SPAN_SCHEMA.fields]
    return spark.read.parquet(str(archive_dir)).select(*cols)
