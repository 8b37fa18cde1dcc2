"""composable_logs_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of composable-logs/composable-logs.

The reference (at /root/reference, read-only) is a Python library that runs
ML/data workflow DAGs and emits all state as OpenTelemetry spans, then
queries that span log (filters, tree joins, aggregations, summaries).
This package re-expresses that capability Spark-first:

- ``spanlog``      : span schema, typed-value codec, span writers/readers
- ``operators``    : Spans-equivalent DataFrame operators (filter/closure/
                     attribute-union/exceptions) plus large-scale data ops
                     (dedup, similarity search, text analysis, multimodal)
- ``plans``        : the parse_spans summarisation pipeline as DataFrame
                     queries (workflow_runs / task_runs / deps / values /
                     artifacts)
- ``sinks``        : directory-tree, mermaid, static-site dataset sinks
- ``orchestrator`` : @task / run_dag DAG execution with Spark as the
                     execution backend (Try monad, timeouts, short-circuit)
- ``streaming``    : ``stream_task_runs`` (the task_runs summary over a
                     growing span-log directory via Structured Streaming)
                     and the ``SpanRecorder`` snapshot-diff
"""

__version__ = "0.1.0"
