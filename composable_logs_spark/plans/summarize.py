"""parse_spans as one kernel per workflow run (SURVEY §3.2).

Reference: opentelemetry_task_span_parser.py:413-445 plus its iterators
(_task_run_iterator :378-410, _artefact_iterator :147-167,
_get_logged_named_values :189-228). Output tables follow FIXTURES.md A3;
``_TABLES`` lists their columns.

Design: runs are independent and small, and the reference summarises
one run at a time with a tree walk, so one kernel does the same:
``summarize_run`` maps a run's raw span rows to that run's finished
rows, in the tables' final types, in plain Python. Spark distributes
it and computes nothing: one ``select`` keeps the span columns the
kernel reads (so a parquet archive prunes the rest), and
``groupBy("run_id").applyInArrow(summarize_run)`` hands each run to the
kernel, one shuffle per input. The kernel follows Spark's semantics
for these rows (the timestamp forms ``to_timestamp`` reads, ``round`` of
the durations, ANSI value casts, ``unbase64``; pinned row by row in
``tests/test_summarize_edges.py``), and a malformed timestamp, value or
artefact fails the run with a ``ValueError`` naming the run and span.

Span ids are unique only within a trace (run_id = trace_id), so all
span linkage happens inside one run's group.

The per-run frame is the one cached relation; every table is an
``explode`` view of it, and ``SpanSummary.release()`` drops the cache.
A run above ``MAX_SPANS_PER_RUN`` spans fails loudly, naming the run.
"""

from __future__ import annotations

import datetime
import functools
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..spanlog import schema as S
from ..spanlog.codec import artefact_bytes, typed_value
from ..spanlog.schema import MAX_SPANS_PER_RUN


def _view(table: str) -> property:
    return property(lambda self: self._explode(table), doc=f"the {table} table")


@dataclass
class SpanSummary:
    """One row per run (``run_id`` plus an array column per table),
    cached; the six tables are views of it."""

    runs: DataFrame
    # the sinks' one-collect report (sinks.report.collect_report)
    _report: object = field(default=None, init=False, repr=False, compare=False)

    workflow_runs = _view("workflow_runs")
    task_runs = _view("task_runs")
    deps = _view("deps")
    logged_values = _view("logged_values")
    artifacts = _view("artifacts")
    validation_errors = _view("validation_errors")

    def _explode(self, table: str) -> DataFrame:
        return self.runs.select("run_id", F.explode(table).alias("r")).select("run_id", "r.*")

    def release(self) -> None:
        """Drop the cached per-run frame; the tables recompute if read again."""
        self.runs.unpersist()


# The span columns the kernel reads; run_id = trace_id is on every span (FIXTURES A1).
_SPAN_COLUMNS = (
    "context.trace_id AS run_id", "context.span_id AS span_id", "parent_id", "name",
    "start_time", "end_time", "status.status_code AS status_code", "attributes",
    "events.name AS events", "links",
)

# Each table's columns after run_id (FIXTURES.md A3) and their Arrow
# types; a column not in _TYPES is a string.
_TABLES = {
    "workflow_runs": "span_id start_time end_time duration_s is_success attributes",
    "task_runs": "span_id parent_span_id task_id task_type start_time end_time duration_s "
    "n_exceptions attributes is_success",
    "deps": "from_span_id to_span_id",
    "logged_values": "task_span_id name type value_str value_long value_double value_bool "
    "value_json",
    "artifacts": "task_span_id name type content length",
    "validation_errors": "task_span_id kind detail",
}
_TIME, _DOUBLE, _BOOL, _LONG = pa.timestamp("us", tz="UTC"), pa.float64(), pa.bool_(), pa.int64()
_TYPES = {
    "start_time": _TIME, "end_time": _TIME, "duration_s": _DOUBLE, "value_double": _DOUBLE,
    "is_success": _BOOL, "value_bool": _BOOL, "value_long": _LONG, "length": _LONG,
    "n_exceptions": pa.int32(), "content": pa.binary(),
    "attributes": pa.map_(pa.string(), pa.string()),
}
_RUN_SCHEMA = pa.schema(
    [("run_id", pa.string())]
    + [
        (table, pa.list_(pa.struct([(c, _TYPES.get(c, pa.string())) for c in columns.split()])))
        for table, columns in _TABLES.items()
    ]
)

# The ISO 8601 forms Spark's to_timestamp reads from OTel JSON: a date,
# optionally a [h]h:[m]m:[s]s time after "T" or " " with any number of
# fraction digits (those past the 6th ignored) and a "Z" or +-h[h][[:]mm] zone.
_TIMESTAMP = re.compile(
    r"[\x00-\x20]*(\d{4})(?:-(\d\d?)(?:-(\d\d?)(?:[T ](\d\d?):(\d\d?):(\d\d?)(?:\.(\d*))?"
    r"(?:Z|([+-])(\d\d?)(?::?(\d\d))?)?)?)?)?[\x00-\x20]*",
    re.ASCII,
)
_EPOCH_DAY = datetime.date(1970, 1, 1).toordinal()


@functools.lru_cache(maxsize=1024)
def _day(y: str, mo: str | None, d: str | None) -> int:
    """Days since the epoch; a run's spans share a few dates."""
    return datetime.date(int(y), int(mo or 1), int(d or 1)).toordinal() - _EPOCH_DAY


def _micros(ts: str | None) -> int | None:
    """Epoch µs of an ISO 8601 string, as ``unix_micros(to_timestamp(ts))``; a
    zone-less string is UTC, the session zone ``session.get_spark`` sets."""
    if ts is None:
        return None
    m = _TIMESTAMP.fullmatch(ts)
    if m is None:
        raise ValueError(f"malformed timestamp {ts!r}")
    y, mo, d, h, mi, s, frac, sign, zh, zm = m.groups()
    h, mi, s, zm = int(h or 0), int(mi or 0), int(s or 0), int(zm or 0)
    zone = int(zh or 0) * 60 + zm
    if h > 23 or mi > 59 or s > 59 or zm > 59 or zone > 18 * 60:
        raise ValueError(f"field out of range in timestamp {ts!r}")
    minutes = (_day(y, mo, d) * 24 + h) * 60 + mi - (zone if sign == "+" else -zone)
    return (minutes * 60 + s) * 1_000_000 + int((frac or "")[:6].ljust(6, "0"))


def _seconds(start_us: int | None, end_us: int | None) -> float | None:
    """C2: Spark's ``round(µs / 1e6, 3)`` (Timing.get_duration_s,
    opentelemetry_task_span_parser.py:250-253): whole milliseconds,
    rounded half away from zero, unlike Python's ``round``."""
    if start_us is None or end_us is None:
        return None
    us = end_us - start_us
    ms = (abs(us) + 500) // 1000
    return (ms if us >= 0 else -ms) / 1000


def nulls_first(*vals) -> tuple:
    """Sort key ordering None before any value, as Spark's ascending sort."""
    return tuple(x for v in vals for x in (v is not None, v))


def _min_wins(union: dict[str, set]) -> dict[str, str | None]:
    """key -> smallest value seen (None if only nulls were), key-sorted."""
    return {k: min(vs) if vs else None for k, vs in sorted(union.items())}


def _add_attrs(union: dict[str, set], entries) -> None:
    for k, v in entries:
        vals = union.setdefault(k, set())
        if v is not None:
            vals.add(v)


class _Task:
    def __init__(self, i: int):
        self.i = i
        self.n_exc = 0
        self.attrs: dict[str, set] = {}
        self.values: list[int] = []  # data span indices
        self.value_names: Counter = Counter()
        self.artifacts: dict[str | None, int] = {}  # name -> last artefact span


def summarize_run(table: pa.Table, max_spans: int) -> pa.Table:
    """Summarise one run's raw span rows (``_SPAN_COLUMNS``) into one row
    of ``_RUN_SCHEMA``.

    A span belongs to itself if it is an execute-task span and to every
    execute-task ancestor within ``S.MAX_SPAN_DEPTH`` parent hops. Spans
    are visited in ``(start_time, span_id)`` order, so every output list
    has a fixed order and a later artefact with the same name wins.
    """
    c = table.to_pydict()
    run_id, n = c["run_id"][0], table.num_rows
    S.check_run_size(run_id, n, max_spans)
    sid, parent, name, attrs = c["span_id"], c["parent_id"], c["name"], c["attributes"]

    def at(i: int, f, *args):
        """``f(*args)``, its ValueError naming the run and span ``i``."""
        try:
            return f(*args)
        except ValueError as e:
            raise ValueError(f"run {run_id!r}, span {sid[i]!r}: {e}") from None

    start = [at(i, _micros, t) for i, t in enumerate(c["start_time"])]
    end = [at(i, _micros, t) for i, t in enumerate(c["end_time"])]
    order = sorted(range(n), key=lambda i: nulls_first(start[i], sid[i]))

    # one parent per span id (its last row's), as span_ancestors' child -> parents map
    parent_of = {s: (p,) for s, p in zip(sid, parent) if s is not None}
    tasks = {sid[i]: _Task(i) for i in order if name[i] == S.SPAN_EXECUTE_TASK}

    def owners(i: int) -> list[_Task]:
        if sid[i] is None:
            return []
        out = [tasks[sid[i]]] if name[i] == S.SPAN_EXECUTE_TASK else []
        return out + [
            tasks[a]
            for a, _ in S.span_ancestors(parent_of, parent[i])
            if a is not None and a in tasks
        ]

    wf_union: dict[str, set] = {}
    deps: dict[tuple, None] = {}  # insertion-ordered set
    data: dict[int, tuple] = {}  # data span -> (name, type, encoding, content_encoded)
    for i in order:
        entries = attrs[i] or ()
        _add_attrs(wf_union, [(k, v) for k, v in entries if k.startswith("workflow.")])
        if name[i] == S.SPAN_EXECUTE_TASK:  # J7
            for link in c["links"][i] or ():
                if link and dict(link["attributes"] or ()).get("type") == "task-dependency":
                    deps[(link["context"] or {}).get("span_id"), sid[i]] = None
        elif name[i] == S.SPAN_TASK_DEPENDENCY:  # J8: kept even when null
            a = dict(entries)
            deps[a.get("from_task_span_id"), a.get("to_task_span_id")] = None
        if name[i] in (S.SPAN_NAMED_VALUE, S.SPAN_ARTEFACT) and c["status_code"][i] == "OK":  # F4
            a = dict(entries)
            data[i] = tuple(a.get(k) for k in ("name", "type", "encoding", "content_encoded"))
        n_exc = (c["events"][i] or []).count("exception")  # A5
        task_attrs = [(k, v) for k, v in entries if k.startswith("task.")]
        for t in owners(i):
            t.n_exc += n_exc
            _add_attrs(t.attrs, task_attrs)
            if i not in data:
                continue
            if name[i] == S.SPAN_NAMED_VALUE:
                t.values.append(i)
                t.value_names[data[i][0]] += 1
            else:
                t.artifacts[data[i][0]] = i

    wf_attrs = _min_wins(wf_union) if wf_union else None
    task_rows, values, artifacts, errors = [], [], [], []
    for t in tasks.values():
        task_sid = sid[t.i]
        own = dict(attrs[t.i] or ())
        task_rows.append(
            {
                "span_id": task_sid,
                "parent_span_id": parent[t.i],
                "task_id": own.get("task.id"),
                "task_type": own.get("task.type"),
                "start_time": start[t.i],
                "end_time": end[t.i],
                "duration_s": _seconds(start[t.i], end[t.i]),
                "n_exceptions": t.n_exc,
                # task.* and workflow.* are disjoint prefixes
                "attributes": sorted({**(wf_attrs or {}), **_min_wins(t.attrs)}.items()),
                "is_success": t.n_exc == 0,
            }
        )
        for i in t.values:
            key, type_, _, encoded = data[i]
            value = at(i, typed_value, type_, encoded)
            values.append({"task_span_id": task_sid, "name": key, "type": type_, **value})
        for i in t.artifacts.values():
            key, type_, encoding, encoded = data[i]
            content = at(i, artefact_bytes, encoding, encoded)
            length = None if content is None else len(content)
            row = dict(task_span_id=task_sid, name=key, type=type_, content=content, length=length)
            artifacts.append(row)
            if key == "notebook.ipynb":  # reference :161-167
                artifacts.append(row | {"name": "notebook.html", "type": "utf-8"})
        conflicts = [("attribute-conflict", k) for k, vs in sorted(t.attrs.items()) if len(vs) > 1]
        dups = [("duplicate-named-value", k) for k, m in t.value_names.items() if m > 1]
        errors += [{"task_span_id": task_sid, "kind": e, "detail": k} for e, k in conflicts + dups]

    tops = [sid[i] for i in order if name[i] == S.SPAN_DAG_TOP] or [None]
    wf_start = min((s for s in start if s is not None), default=None)
    wf_end = max((e for e in end if e is not None), default=None)
    workflow = {
        "start_time": wf_start,
        "end_time": wf_end,
        "duration_s": _seconds(wf_start, wf_end),
        "is_success": all(t.n_exc == 0 for t in tasks.values()),
        "attributes": None if wf_attrs is None else list(wf_attrs.items()),
    }
    row = {
        "run_id": [run_id],
        "workflow_runs": [[{"span_id": s, **workflow} for s in tops]],
        "task_runs": [task_rows],
        "deps": [[{"from_span_id": f, "to_span_id": t} for f, t in deps]],
        "logged_values": [values],
        "artifacts": [artifacts],
        "validation_errors": [errors],
    }
    return pa.Table.from_pydict(row, schema=_RUN_SCHEMA)


def summarize_spans(spans: DataFrame) -> SpanSummary:
    """Summarise every run in ``spans``: the kernel's columns, one shuffle
    into ``summarize_run`` per run, one cached frame."""
    limit = MAX_SPANS_PER_RUN  # read on the driver; travels with the lambda
    runs = spans.selectExpr(*_SPAN_COLUMNS).groupBy("run_id").applyInArrow(
        lambda table: summarize_run(table, limit), from_arrow_schema(_RUN_SCHEMA)
    )
    return SpanSummary(runs.cache())
