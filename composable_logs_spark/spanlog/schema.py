"""The span-log data model as an explicit Spark schema.

The reference stores spans as nested Python dicts read from JSON-lines
files with an implicit schema (reference: opentelemetry_helpers.py:77,
499-500; field reads at 81-152, 404-491). We ingest the same JSON shape
with an explicit ``StructType`` so Parquet/columnar storage, predicate
pushdown and column pruning work at scale. Missing keys become nulls
(PERMISSIVE mode), mirroring the reference's tolerance of absent paths
(``read_key`` failure fallback, opentelemetry_helpers.py:53-73).

Span ``name`` acts as the row-type discriminator — one of:
``dag-top-span | execute-task | timeout-guard | call-python-function |
task-dependency | named-value | artefact``
(reference: wrappers.py:161,170,279,337,496;
task_opentelemetry_logging.py:222-226).
"""

from __future__ import annotations

import datetime
from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import types as T

# Attribute values in OTel are str/int/float/bool; the reference validates
# this (opentelemetry_task_span_parser.py:231-233). We store them as
# strings in the map and provide typed casts at read time — string maps
# keep the schema closed (no schema drift per attribute key) which is what
# you want for a 100 TB log table.
ATTRIBUTES_TYPE = T.MapType(T.StringType(), T.StringType())

EVENT_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("timestamp", T.StringType()),  # ISO8601; parsed on demand
        T.StructField("attributes", ATTRIBUTES_TYPE),
    ]
)

LINK_CONTEXT_TYPE = T.StructType(
    [
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
    ]
)

LINK_TYPE = T.StructType(
    [
        T.StructField("context", LINK_CONTEXT_TYPE),
        T.StructField("attributes", ATTRIBUTES_TYPE),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField(
            "context",
            T.StructType(
                [
                    T.StructField("trace_id", T.StringType()),
                    T.StructField("span_id", T.StringType()),
                ]
            ),
        ),
        T.StructField("parent_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("start_time", T.StringType()),  # ISO8601 as emitted
        T.StructField("end_time", T.StringType()),
        T.StructField(
            "status",
            T.StructType(
                [
                    T.StructField("status_code", T.StringType()),
                    T.StructField("description", T.StringType()),
                ]
            ),
        ),
        T.StructField("attributes", ATTRIBUTES_TYPE),
        T.StructField("events", T.ArrayType(EVENT_TYPE)),
        T.StructField("links", T.ArrayType(LINK_TYPE)),
    ]
)

# Span trees have a hard structural depth bound: dag-top-span ->
# execute-task -> timeout-guard -> call-python-function ->
# named-value/artefact, plus a notebook level (FIXTURES.md: depth <= 6).
# Ancestor walks stop after this many hops, a margin over that bound.
MAX_SPAN_DEPTH = 8

# Per-run work holds one run's spans in one Python worker's memory.
MAX_SPANS_PER_RUN = 1_000_000


def check_run_size(run_id: str | None, n: int, max_spans: int) -> None:
    """Fail loudly, naming the run, when it is too big for one worker."""
    if n > max_spans:
        raise ValueError(f"run {run_id!r} has {n} spans, above MAX_SPANS_PER_RUN={max_spans}")


def span_ancestors(
    parents: Mapping[str, Sequence[str | None]],
    parent: str | None,
    max_depth: int = MAX_SPAN_DEPTH,
) -> list[tuple[str | None, int]]:
    """``(ancestor_id, depth)`` for every upward path of 1 to ``max_depth``
    hops from a span whose parent is ``parent`` (depth 1 is ``parent``).

    ``parents`` maps a span id to the parent ids of its edge rows, one
    entry per row, so a duplicated row doubles the paths through it. It
    has no ``None`` key: a null id has no parents, so a walk that reaches
    one stops there. The reference's per-run walk is UDT.traverse_from
    (opentelemetry_helpers.py:295-308).
    """
    found, stack = [], [(parent, 1)]
    while stack:
        a, depth = stack.pop()
        found.append((a, depth))
        if depth < max_depth:
            for p in parents.get(a, ()):
                stack.append((p, depth + 1))
    return found


# Well-known span names (the row-type discriminator).
SPAN_DAG_TOP = "dag-top-span"
SPAN_EXECUTE_TASK = "execute-task"
SPAN_TIMEOUT_GUARD = "timeout-guard"
SPAN_CALL_FUNCTION = "call-python-function"
SPAN_TASK_DEPENDENCY = "task-dependency"
SPAN_NAMED_VALUE = "named-value"
SPAN_ARTEFACT = "artefact"


def iso8601(ts: datetime.datetime) -> str:
    """Render a timestamp the way OTel JSON emits it (UTC, µs precision)."""
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    return ts.astimezone(datetime.timezone.utc).isoformat().replace("+00:00", "Z")


def span_row(
    span_id: str,
    name: str,
    start_time: datetime.datetime | str,
    end_time: datetime.datetime | str,
    trace_id: str = "0x" + "0" * 32,
    parent_id: str | None = None,
    status_code: str = "OK",
    status_description: str | None = None,
    attributes: dict[str, Any] | None = None,
    events: list[dict[str, Any]] | None = None,
    links: list[dict[str, Any]] | None = None,
) -> dict[str, Any]:
    """Build one span dict conforming to SPAN_SCHEMA (for writers/fixtures)."""
    return {
        "context": {"trace_id": trace_id, "span_id": span_id},
        "parent_id": parent_id,
        "name": name,
        "start_time": start_time if isinstance(start_time, str) else iso8601(start_time),
        "end_time": end_time if isinstance(end_time, str) else iso8601(end_time),
        "status": {"status_code": status_code, "description": status_description},
        "attributes": {k: _attr_str(v) for k, v in (attributes or {}).items()},
        "events": events or [],
        "links": links or [],
    }


def _attr_str(v: Any) -> str:
    """Attribute values restricted to str/int/float/bool (reference:
    opentelemetry_task_span_parser.py:231-233); stored as strings."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if not isinstance(v, (str, int, float)):
        raise ValueError(f"attribute value must be str/int/float/bool, got {type(v)}")
    return str(v)
