"""parse_spans as one grouped pass per workflow run (SURVEY §3.2).

Reference: opentelemetry_task_span_parser.py:413-445 plus its iterators
(_task_run_iterator :378-410, _artefact_iterator :147-167,
_get_logged_named_values :189-228). Output tables follow FIXTURES.md A3:

    workflow_runs(run_id, span_id, start_time, end_time, duration_s,
                  is_success, attributes)
    task_runs(run_id, span_id, parent_span_id, task_id, task_type,
              start_time, end_time, duration_s, n_exceptions, attributes,
              is_success)
    deps(run_id, from_span_id, to_span_id)
    logged_values(run_id, task_span_id, name, type, value_str, value_long,
                  value_double, value_bool, value_json)
    artifacts(run_id, task_span_id, name, type, content, length)
    validation_errors(run_id, task_span_id, kind, detail)

Design: runs are independent and small, and the reference summarises
one run at a time with a tree walk, so this does the same in three
steps with one shuffle per input:

1. Spark projects each span to the narrow fields the walk needs: ids,
   start/end as epoch micros, its exception count, its ``task.*`` and
   ``workflow.*`` attributes, data-span payloads and dependency ids.
2. ``groupBy("run_id").applyInArrow(summarize_run)`` hands each run to
   plain Python, which resolves every span's execute-task owners with a
   parent-pointer walk and builds one row per run holding an
   array-of-struct column per table.
3. Spark applies the per-row expressions (timestamps, durations, value
   casts, artefact decoding) to those arrays, so Spark's rounding, cast
   and ANSI semantics apply exactly as in a column-at-a-time plan.

Span ids are unique only within a trace (run_id = trace_id), so all
span linkage happens inside one run's group.

The per-run frame is the one cached relation; every table is an
``explode`` view of it, and ``SpanSummary.release()`` drops the cache.
A run above ``MAX_SPANS_PER_RUN`` spans fails loudly, naming the run.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..spanlog import schema as S
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


_STR = pa.string()
_ATTRS = pa.map_(pa.string(), pa.string())


def _rows(*fields) -> pa.DataType:
    return pa.list_(pa.struct([pa.field(n, t) for n, t in fields]))


_RUN_SCHEMA = pa.schema(
    [
        ("run_id", _STR),
        ("workflow_runs", _rows(
            ("span_id", _STR), ("start_us", pa.int64()), ("end_us", pa.int64()),
            ("is_success", pa.bool_()), ("attributes", _ATTRS),
        )),
        ("task_runs", _rows(
            ("span_id", _STR), ("parent_span_id", _STR), ("task_id", _STR),
            ("task_type", _STR), ("start_us", pa.int64()), ("end_us", pa.int64()),
            ("n_exceptions", pa.int32()), ("attributes", _ATTRS),
        )),
        ("deps", _rows(("from_span_id", _STR), ("to_span_id", _STR))),
        ("logged_values", _rows(
            ("task_span_id", _STR), ("name", _STR), ("type", _STR), ("content_encoded", _STR),
        )),
        ("artifacts", _rows(
            ("task_span_id", _STR), ("name", _STR), ("type", _STR),
            ("encoding", _STR), ("content_encoded", _STR),
        )),
        ("validation_errors", _rows(("task_span_id", _STR), ("kind", _STR), ("detail", _STR))),
    ]
)


def nulls_first(*vals) -> tuple:
    """Sort key ordering None before any value, as Spark's ascending sort."""
    return tuple(x for v in vals for x in (v is not None, v))


def _min_wins(union: dict[str, set]) -> dict[str, str | None]:
    """key -> smallest value seen (None if only nulls were), key-sorted."""
    return {k: min(vs) if vs else None for k, vs in sorted(union.items())}


def _add_attrs(union: dict[str, set], entries) -> None:
    for k, v in entries or ():
        vals = union.setdefault(k, set())
        if v is not None:
            vals.add(v)


class _Task:
    def __init__(self, i: int):
        self.i = i
        self.n_exc = 0
        self.attrs: dict[str, set] = {}
        self.values: list[dict] = []
        self.value_names: Counter = Counter()
        self.artifacts: dict[str | None, dict] = {}  # name -> last artefact


def summarize_run(table: pa.Table, max_spans: int) -> pa.Table:
    """Summarise one run's projected spans into one row of ``_RUN_SCHEMA``.

    A span belongs to itself if it is an execute-task span and to every
    execute-task ancestor within ``S.MAX_SPAN_DEPTH`` parent hops. Spans
    are visited in ``(start_us, span_id)`` order, so every output list
    has a fixed order and a later artefact with the same name wins.
    """
    c = table.to_pydict()
    run_id, n = c["run_id"][0], table.num_rows
    S.check_run_size(run_id, n, max_spans)
    sid, parent, name = c["span_id"], c["parent_id"], c["name"]
    start, end = c["start_us"], c["end_us"]
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
    for i in order:
        _add_attrs(wf_union, c["wf_attrs"][i])
        for d in c["deps"][i] or ():
            deps[d["from_span_id"], d["to_span_id"]] = None
        data = c["data"][i]
        for t in owners(i):
            t.n_exc += c["n_exc"][i]
            _add_attrs(t.attrs, c["task_attrs"][i])
            if data is None:
                continue
            row = {"task_span_id": sid[t.i], **data}
            if name[i] == S.SPAN_NAMED_VALUE:
                t.values.append(row)
                t.value_names[data["name"]] += 1
            else:
                t.artifacts[data["name"]] = row

    wf_attrs = _min_wins(wf_union) if wf_union else None
    task_rows, values, artifacts, errors = [], [], [], []
    for t in tasks.values():
        own = dict(c["task_attrs"][t.i] or ())  # the task span's own task.*
        attrs = {**(wf_attrs or {}), **_min_wins(t.attrs)}  # prefixes are disjoint
        task_rows.append(
            {
                "span_id": sid[t.i],
                "parent_span_id": parent[t.i],
                "task_id": own.get("task.id"),
                "task_type": own.get("task.type"),
                "start_us": start[t.i],
                "end_us": end[t.i],
                "n_exceptions": t.n_exc,
                "attributes": sorted(attrs.items()),
            }
        )
        values += t.values
        for a in t.artifacts.values():
            artifacts.append(a)
            if a["name"] == "notebook.ipynb":  # reference :161-167
                artifacts.append({**a, "name": "notebook.html", "type": "utf-8"})
        errors += [
            {"task_span_id": sid[t.i], "kind": "attribute-conflict", "detail": k}
            for k, vs in sorted(t.attrs.items())
            if len(vs) > 1
        ]
        errors += [
            {"task_span_id": sid[t.i], "kind": "duplicate-named-value", "detail": k}
            for k, m in t.value_names.items()
            if m > 1
        ]

    tops = [sid[i] for i in order if name[i] == S.SPAN_DAG_TOP] or [None]
    starts = [s for s in start if s is not None]
    ends = [e for e in end if e is not None]
    workflow = {
        "start_us": min(starts, default=None),
        "end_us": max(ends, default=None),
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


def _project(spans: DataFrame) -> DataFrame:
    """The narrow per-span fields ``summarize_run`` reads.

    run_id = trace_id (constant within one workflow run, FIXTURES A1):
    the reference keys a run by its dag-top span
    (opentelemetry_task_span_parser.py:430-433), but trace_id is on
    EVERY span, so multi-run inputs group without locating top spans.
    """
    name, attrs = F.col("name"), F.col("attributes")

    def prefixed(p: str):
        return F.map_filter(attrs, lambda k, _: k.startswith(p))

    def micros(ts: str):
        return F.unix_micros(F.to_timestamp(ts))

    link_deps = F.transform(
        F.filter("links", lambda l: l["attributes"].getItem("type") == "task-dependency"),
        lambda l: F.struct(
            l["context"]["span_id"].alias("from_span_id"),
            F.col("context.span_id").alias("to_span_id"),
        ),
    )
    legacy_dep = F.array(
        F.struct(
            attrs.getItem("from_task_span_id").alias("from_span_id"),
            attrs.getItem("to_task_span_id").alias("to_span_id"),
        )
    )
    is_data = name.isin(S.SPAN_NAMED_VALUE, S.SPAN_ARTEFACT) & (
        F.col("status.status_code") == "OK"  # F4
    )
    return spans.select(
        F.col("context.trace_id").alias("run_id"),
        F.col("context.span_id").alias("span_id"),
        "parent_id",
        "name",
        micros("start_time").alias("start_us"),
        micros("end_time").alias("end_us"),
        # A5: count of the span's events named "exception"
        F.coalesce(
            F.size(F.filter("events", lambda e: e["name"] == F.lit("exception"))), F.lit(0)
        ).alias("n_exc"),
        prefixed("task.").alias("task_attrs"),
        prefixed("workflow.").alias("wf_attrs"),
        F.when(
            is_data,
            F.struct(*[attrs.getItem(k).alias(k) for k in ("name", "type", "encoding", "content_encoded")]),
        ).alias("data"),
        F.when(name == S.SPAN_EXECUTE_TASK, link_deps)  # J7
        .when(name == S.SPAN_TASK_DEPENDENCY, legacy_dep)  # J8
        .alias("deps"),
    )


def _duration_s(start_us, end_us):
    """C2: round(µs-diff / 1e6, 3) — matches Timing.get_duration_s
    (opentelemetry_task_span_parser.py:250-253)."""
    return F.round((end_us - start_us) / F.lit(1_000_000.0), 3)


def _fields(r, *names: str) -> list:
    """Struct fields of a lambda variable, keeping their names."""
    return [r[n].alias(n) for n in names]


def _finish(runs: DataFrame) -> DataFrame:
    """The per-row Spark expressions over ``summarize_run``'s arrays."""

    def timed(r):
        return [
            F.timestamp_micros(r["start_us"]).alias("start_time"),
            F.timestamp_micros(r["end_us"]).alias("end_time"),
            _duration_s(r["start_us"], r["end_us"]).alias("duration_s"),
        ]

    def value(v):
        typ, content = v["type"], v["content_encoded"]
        return F.struct(
            *_fields(v, "task_span_id", "name", "type"),
            F.when(typ == "utf-8", content).alias("value_str"),
            F.when(typ == "int", content.cast("long")).alias("value_long"),
            F.when(typ == "float", content.cast("double")).alias("value_double"),
            F.when(typ == "bool", content.cast("boolean")).alias("value_bool"),
            F.when(typ == "json", content).alias("value_json"),
        )

    def artifact(a):
        content = (
            F.when(a["encoding"] == "base64", F.unbase64(a["content_encoded"]))
            .otherwise(F.encode(a["content_encoded"], "utf-8"))
        )
        return F.struct(*_fields(a, "task_span_id", "name", "type"), content.alias("content"))

    return runs.select(
        "run_id",
        F.transform(
            "workflow_runs",
            lambda w: F.struct(
                *_fields(w, "span_id"), *timed(w), *_fields(w, "is_success", "attributes")
            ),
        ).alias("workflow_runs"),
        F.transform(
            "task_runs",
            lambda t: F.struct(
                *_fields(t, "span_id", "parent_span_id", "task_id", "task_type"),
                *timed(t),
                *_fields(t, "n_exceptions", "attributes"),
                (t["n_exceptions"] == 0).alias("is_success"),
            ),
        ).alias("task_runs"),
        "deps",
        F.transform("logged_values", value).alias("logged_values"),
        F.transform(
            F.transform("artifacts", artifact),
            lambda a: F.struct(
                *_fields(a, "task_span_id", "name", "type", "content"),
                F.length(a["content"]).cast("long").alias("length"),
            ),
        ).alias("artifacts"),
        "validation_errors",
    )


def summarize_spans(spans: DataFrame) -> SpanSummary:
    """Summarise every run in ``spans``; one shuffle, one cached frame."""
    limit = MAX_SPANS_PER_RUN  # read on the driver; travels with the lambda
    runs = _project(spans).groupBy("run_id").applyInArrow(
        lambda table: summarize_run(table, limit), from_arrow_schema(_RUN_SCHEMA)
    )
    return SpanSummary(_finish(runs).cache())
