"""Incremental span ingest via Structured Streaming (SURVEY §2.1 S5, §2.9).

The reference's incrementality is (a) SpanRecorder snapshot-diff
(opentelemetry_helpers.py:503-546) and (b) "logs keep arriving as runs
complete" in generate_static_data (cli_generate_static_data.py:184-199).
Both map onto Spark's append-only file source:

- ``read_span_stream``: readStream over a span-log directory with the
  explicit schema; the file source tracks which files are new — the
  distributed version of snapshot-diff.
- ``stream_task_runs``: the per-task aggregation expressed as a
  streaming query (dedup by span id + per-task-span grouping) using
  ``foreachBatch`` + the batch summariser, the recommended pattern for
  rebuilding a reporting dataset per micro-batch.
- ``SpanRecorder``: the literal snapshot-diff API for tests/local use —
  anti-join of span ids (U1) at exit.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spanlog.schema import SPAN_SCHEMA
from ..spanlog.sources import read_span_jsonl


def read_span_stream(spark: SparkSession, log_dir: str | Path) -> DataFrame:
    """S5: streaming span source. New files under ``log_dir`` become new
    micro-batches; schema is explicit (no inference pass)."""
    return (
        spark.readStream.schema(SPAN_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(str(log_dir))
    )


def stream_task_runs(
    spark: SparkSession,
    log_dir: str | Path,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: Optional[str] = None,
    dedup_within: Optional[str] = None,
):
    """Run the summarisation incrementally: every micro-batch of new span
    files is deduplicated by (trace_id, span_id) and handed to
    ``on_batch`` as a task_runs DataFrame (foreachBatch pattern).

    ``dedup_within`` (e.g. ``"48 hours"``): bound the dedup state with an
    event-time watermark on ``start_time`` + dropDuplicatesWithinWatermark.
    Plain ``dropDuplicates`` keeps EVERY seen key in the state store
    forever — unbounded growth on an always-on ingest; the watermarked
    form evicts keys once the watermark passes them, so state is
    O(spans per watermark window) regardless of stream lifetime. Spans
    duplicated across log files (re-emitted on recorder overlap) land
    within seconds of each other, so any window over the re-emission gap
    gives identical results to the unbounded form.

    Returns the StreamingQuery; callers stop it (or use
    ``processAllAvailable`` in tests).
    """
    from ..plans.summarize import summarize_spans

    src = (
        read_span_stream(spark, log_dir)
        .withColumn("_tid", F.col("context.trace_id"))
        .withColumn("_sid", F.col("context.span_id"))
    )
    if dedup_within is not None:
        src = (
            src.withColumn("_ev", F.to_timestamp(F.col("start_time")))
            .withWatermark("_ev", dedup_within)
            .dropDuplicatesWithinWatermark(["_tid", "_sid"])
            .drop("_ev")
        )
    else:
        src = src.dropDuplicates(["_tid", "_sid"])
    stream = src.drop("_tid", "_sid")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        summary = summarize_spans(batch_df)
        try:
            on_batch(summary.task_runs, batch_id)
        finally:
            summary.release()  # an always-on stream must not pile up caches

    writer = stream.writeStream.foreachBatch(handle).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


class SpanRecorder:
    """U1/S5 snapshot-diff recorder (reference opentelemetry_helpers.py:503-546):

    with SpanRecorder(spark, log_dir) as rec: ...
    rec.spans  ->  DataFrame of spans that appeared inside the block
    """

    def __init__(self, spark: SparkSession, log_dir: str | Path):
        self.spark = spark
        self.log_dir = str(log_dir)
        self.spans: Optional[DataFrame] = None

    def __enter__(self) -> "SpanRecorder":
        Path(self.log_dir).mkdir(parents=True, exist_ok=True)
        self._before = (
            read_span_jsonl(self.spark, self.log_dir)
            .select(
                F.col("context.trace_id").alias("trace_id"),
                F.col("context.span_id").alias("span_id"),
            )
            .cache()
        )
        self._before.count()  # materialise the snapshot NOW
        return self

    def __exit__(self, *exc) -> None:
        after = read_span_jsonl(self.spark, self.log_dir)
        before = self._before
        self.spans = after.join(
            before,
            (after["context.span_id"] == before["span_id"])
            & (after["context.trace_id"] == before["trace_id"]),
            "left_anti",
        )
