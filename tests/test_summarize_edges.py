"""Edge cases of the span-to-row rules, pinned row by row.

The expected rows are the answers of the column-at-a-time Spark plan
(``to_timestamp``, ANSI casts, ``round``, ``unbase64``) that the
per-run kernel replaced, so they pin the kernel to Spark's semantics:
duration ties round half away from zero, every accepted timestamp form,
typed-value casts, base64 with characters outside the alphabet, and the
data-span / exception / dependency filters.
"""

import math

import pytest
from pyspark.sql import functions as F

from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.spanlog.schema import span_row

from conftest import spans_df

RUN = "0x" + "e" * 32


def _span(sid, name, start, end, parent=None, **kw):
    return span_row(sid, name, start, end, trace_id=RUN, parent_id=parent, **kw)


def _data(sid, parent, kind, name, type_, encoding, content, status="OK"):
    attrs = {"name": name, "type": type_, "encoding": encoding, "content_encoded": content}
    t = "2023-01-01T00:00:30Z"
    return _span(sid, kind, t, t, parent, attributes=attrs, status_code=status)


def edge_spans() -> list[dict]:
    task = "execute-task"
    spans = [
        _span("top", "dag-top-span", "2023-01-01T00:00:00Z", "2023-01-01T01:00:00Z",
              attributes={"workflow.env": "edge"}),
        # duration ties: 4,500 µs and 1,234,500 µs, and a negative duration
        _span("tie1", task, "2023-01-01T00:00:00Z", "2023-01-01T00:00:00.0045Z", "top",
              attributes={"task.id": "tie1"}),
        _span("tie2", task, "2023-01-01T00:00:01Z", "2023-01-01T00:00:02.2345Z", "top",
              attributes={"task.id": "tie2"}),
        _span("neg", task, "2023-01-01T00:00:05.0045Z", "2023-01-01T00:00:05Z", "top",
              attributes={"task.id": "neg"}),
        # timestamp forms: offsets, a space separator, zone-less, date alone,
        # 1-9 fraction digits (past the 6th truncated), an empty fraction
        _span("off", task, "2023-01-01T01:00:10+01:00", "2023-01-01 00:00:11", "top",
              attributes={"task.id": "off"}),
        _span("off2", task, "2023-01-01T00:00:12+0000", "2023-01-01T00:00:12-00:30", "top",
              attributes={"task.id": "off2"}),
        _span("frac", task, "2023-01-01T00:00:12.1234567Z", "2023-01-01T00:00:13.123456789Z",
              "top", attributes={"task.id": "frac"}),
        _span("frac1", task, "2023-01-01T00:00:13.1Z", "2023-01-01T00:00:14.Z", "top",
              attributes={"task.id": "frac1"}),
        _span("date", task, "2023-01-01", "2023-01-01T00:00:14.5Z", "top",
              attributes={"task.id": "date"}),
        # exceptions: two named "exception" among others; null and empty events
        _span("exc", task, "2023-01-01T00:00:20Z", "2023-01-01T00:00:21Z", "top",
              attributes={"task.id": "exc"},
              events=[{"name": "exception"}, {"name": "other"}, {"name": "exception"}]),
        _span("noev", task, "2023-01-01T00:00:22Z", "2023-01-01T00:00:23Z", "top",
              attributes={"task.id": "noev"}),
        _span("emptyev", task, "2023-01-01T00:00:24Z", "2023-01-01T00:00:25Z", "top",
              attributes={"task.id": "emptyev"}),
        # links: one task-dependency, one of another type, one without attributes
        _span("linked", task, "2023-01-01T00:00:26Z", "2023-01-01T00:00:27Z", "top",
              attributes={"task.id": "linked"},
              links=[
                  {"context": {"trace_id": RUN, "span_id": "tie1"},
                   "attributes": {"type": "task-dependency"}},
                  {"context": {"trace_id": RUN, "span_id": "tie2"},
                   "attributes": {"type": "follows-from"}},
                  {"context": {"trace_id": RUN, "span_id": "neg"}},
              ]),
        # legacy dependency spans: complete, and missing its to-side
        _span("dep1", "task-dependency", "2023-01-01T00:00:28Z", "2023-01-01T00:00:28Z",
              attributes={"from_task_span_id": "off", "to_task_span_id": "frac"}),
        _span("dep2", "task-dependency", "2023-01-01T00:00:29Z", "2023-01-01T00:00:29Z",
              attributes={"from_task_span_id": "date"}),
        # values of every type, owned by task "exc"
        _data("v_int", "exc", "named-value", "an_int", "int", "json", "42"),
        _data("v_int_ws", "exc", "named-value", "int_ws", "int", "json", " 7 "),
        _data("v_nan", "exc", "named-value", "a_nan", "float", "json", "NaN"),
        _data("v_1e3", "exc", "named-value", "a_1e3", "float", "json", "1e3"),
        _data("v_inf", "exc", "named-value", "an_inf", "float", "json", "-Infinity"),
        _data("v_bool", "exc", "named-value", "a_bool", "bool", "json", "true"),
        _data("v_yes", "exc", "named-value", "a_yes", "bool", "json", "yes"),
        _data("v_json", "exc", "named-value", "a_json", "json", "json", '{"a": [1, 2]}'),
        _data("v_str", "exc", "named-value", "a_str", "utf-8", "utf-8", "héllo ✓"),
        _data("v_bytes", "exc", "named-value", "some_bytes", "bytes", "base64", "AAEC"),
        # a data span whose status is not OK is no data span (F4)
        _data("v_err", "exc", "named-value", "failed", "int", "json", "1", status="ERROR"),
        # artefacts: base64 with characters outside the alphabet, unpadded, utf-8
        _data("a_b64", "noev", "artefact", "bang.bin", "bytes", "base64", "YWJj!\n"),
        _data("a_nopad", "noev", "artefact", "nopad.bin", "bytes", "base64", "YWI"),
        _data("a_utf8", "noev", "artefact", "notes.txt", "utf-8", "utf-8", "notes ✓"),
        _data("a_err", "noev", "artefact", "bad.bin", "bytes", "base64", "Y", status="UNSET"),
    ]
    by_id = {s["context"]["span_id"]: s for s in spans}
    by_id["noev"]["events"] = None  # null, not empty
    return spans


def _plain(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    return v


def _rows(df) -> list[tuple]:
    """Rows as plain tuples, timestamps as epoch µs (process-zone free)."""
    cols = [
        F.unix_micros(c).alias(c) if t == "timestamp" else F.col(c)
        for c, t in df.dtypes
    ]
    return sorted(
        (tuple(_plain(v) for v in r) for r in df.select(cols).collect()),
        key=repr,
    )


EXPECTED_SCHEMAS = {
    "workflow_runs": "struct<run_id:string,span_id:string,start_time:timestamp,end_time:timestamp,"
    "duration_s:double,is_success:boolean,attributes:map<string,string>>",
    "task_runs": "struct<run_id:string,span_id:string,parent_span_id:string,task_id:string,"
    "task_type:string,start_time:timestamp,end_time:timestamp,duration_s:double,n_exceptions:int,"
    "attributes:map<string,string>,is_success:boolean>",
    "deps": "struct<run_id:string,from_span_id:string,to_span_id:string>",
    "logged_values": "struct<run_id:string,task_span_id:string,name:string,type:string,"
    "value_str:string,value_long:bigint,value_double:double,value_bool:boolean,value_json:string>",
    "artifacts": "struct<run_id:string,task_span_id:string,name:string,type:string,content:binary,"
    "length:bigint>",
    "validation_errors": "struct<run_id:string,task_span_id:string,kind:string,detail:string>",
}

T0 = 1672531200000000  # 2023-01-01T00:00:00Z in epoch µs


def _task(sid, start, end, duration_s, n_exc=0):
    attrs = (("task.id", sid), ("workflow.env", "edge"))
    return (RUN, sid, "top", sid, None, T0 + start, T0 + end, duration_s, n_exc, attrs, n_exc == 0)


def _value(name, type_, s=None, long_=None, double=None, bool_=None, json_=None):
    return (RUN, "exc", name, type_, s, long_, double, bool_, json_)


EXPECTED_ROWS = {
    "workflow_runs": [(RUN, "top", T0, T0 + 3_600_000_000, 3600.0, False, (("workflow.env", "edge"),))],
    "task_runs": [
        _task("date", 0, 14_500_000, 14.5),
        _task("emptyev", 24_000_000, 25_000_000, 1.0),
        _task("exc", 20_000_000, 21_000_000, 1.0, n_exc=2),
        _task("frac", 12_123_456, 13_123_456, 1.0),
        _task("frac1", 13_100_000, 14_000_000, 0.9),
        _task("linked", 26_000_000, 27_000_000, 1.0),
        _task("neg", 5_004_500, 5_000_000, -0.005),
        _task("noev", 22_000_000, 23_000_000, 1.0),
        _task("off", 10_000_000, 11_000_000, 1.0),
        _task("off2", 12_000_000, 1_812_000_000, 1800.0),
        _task("tie1", 0, 4_500, 0.005),
        _task("tie2", 1_000_000, 2_234_500, 1.235),
    ],
    "deps": [(RUN, "date", None), (RUN, "off", "frac"), (RUN, "tie1", "linked")],
    "logged_values": [
        _value("a_1e3", "float", double=1000.0),
        _value("a_bool", "bool", bool_=True),
        _value("a_json", "json", json_='{"a": [1, 2]}'),
        _value("a_nan", "float", double="NaN"),
        _value("a_str", "utf-8", s="héllo ✓"),
        _value("a_yes", "bool", bool_=True),
        _value("an_inf", "float", double=-math.inf),
        _value("an_int", "int", long_=42),
        _value("int_ws", "int", long_=7),
        _value("some_bytes", "bytes"),
    ],
    "artifacts": [
        (RUN, "noev", "bang.bin", "bytes", b"abc", 3),
        (RUN, "noev", "nopad.bin", "bytes", b"ab", 2),
        (RUN, "noev", "notes.txt", "utf-8", "notes ✓".encode(), 9),
    ],
    "validation_errors": [],
}


def test_edge_case_rows_pinned(spark):
    s = summarize_spans(spans_df(spark, edge_spans()))
    try:
        for table in EXPECTED_ROWS:
            df = getattr(s, table)
            assert df.schema.simpleString() == EXPECTED_SCHEMAS[table], table
            assert _rows(df) == EXPECTED_ROWS[table], table
    finally:
        s.release()


@pytest.mark.parametrize(
    "type_, encoding, content",
    [("int", "json", "3.0"), ("int", "json", "1e3"), ("bool", "json", " 7 "), ("float", "json", "1_0")],
)
def test_malformed_value_fails_the_run(spark, type_, encoding, content):
    # an ANSI cast rejects these; a null value_* column would look plausible
    spans = edge_spans()[:1] + [
        _span("t", "execute-task", "2023-01-01T00:00:00Z", "2023-01-01T00:00:01Z", "top"),
        _data("v", "t", "named-value", "bad", type_, encoding, content),
    ]
    s = summarize_spans(spans_df(spark, spans))
    try:
        with pytest.raises(Exception, match="'bad'|'v'|CAST_INVALID_INPUT"):
            s.logged_values.collect()
    finally:
        s.release()


def test_malformed_base64_artefact_fails_the_run(spark):
    spans = edge_spans()[:1] + [
        _span("t", "execute-task", "2023-01-01T00:00:00Z", "2023-01-01T00:00:01Z", "top"),
        _data("a", "t", "artefact", "bad.bin", "bytes", "base64", "Y"),
    ]
    s = summarize_spans(spans_df(spark, spans))
    try:
        with pytest.raises(Exception, match="Last unit does not have enough valid bits"):
            s.artifacts.collect()
    finally:
        s.release()


def test_malformed_start_time_names_the_run_and_span(spark):
    from pyspark.errors import PythonException

    spans = edge_spans()[:1] + [
        _span("late", "execute-task", "2023-01-01T00:00Z", "2023-01-01T00:00:01Z", "top")
    ]
    s = summarize_spans(spans_df(spark, spans))  # lazy, like the span limit
    try:
        with pytest.raises(
            PythonException,
            match=rf"ValueError: run '{RUN}', span 'late': malformed timestamp '2023-01-01T00:00Z'",
        ):
            s.task_runs.collect()
    finally:
        s.release()


def test_kernel_runs_without_spark():
    import pyarrow as pa

    from composable_logs_spark.plans.summarize import _RUN_SCHEMA, summarize_run

    attrs = pa.map_(pa.string(), pa.string())
    link = pa.struct([
        ("context", pa.struct([("trace_id", pa.string()), ("span_id", pa.string())])),
        ("attributes", attrs),
    ])
    dep = [{"context": {"trace_id": "r", "span_id": "a"}, "attributes": [("type", "task-dependency")]}]
    table = pa.table(
        {
            "run_id": ["r"] * 4,
            "span_id": ["top", "a", "b", "v"],
            "parent_id": [None, "top", "top", "a"],
            "name": ["dag-top-span", "execute-task", "execute-task", "named-value"],
            "start_time": ["2023-01-01T00:00:00Z", "2023-01-01T00:00:00Z",
                           "2023-01-01T00:00:01Z", "2023-01-01T00:00:00.5Z"],
            "end_time": ["2023-01-01T00:00:03Z", "2023-01-01T00:00:00.0015Z",
                         "2023-01-01T00:00:02Z", "2023-01-01T00:00:00.5Z"],
            "status_code": ["OK", "ERROR", "OK", "OK"],
            "attributes": [
                [("workflow.env", "w")], [("task.id", "a")], [("task.id", "b")],
                [("name", "n"), ("type", "float"), ("encoding", "json"), ("content_encoded", "1e3")],
            ],
            "events": [None, ["exception"], [], None],
            "links": [None, None, dep, None],
        },
        schema=pa.schema([
            *[(c, pa.string()) for c in ("run_id", "span_id", "parent_id", "name", "start_time",
                                         "end_time", "status_code")],
            ("attributes", attrs), ("events", pa.list_(pa.string())), ("links", pa.list_(link)),
        ]),
    )
    out = summarize_run(table, max_spans=4)
    assert out.schema == _RUN_SCHEMA
    row = out.to_pylist()[0]
    tasks = {t["task_id"]: t for t in row["task_runs"]}
    assert tasks["a"]["duration_s"] == 0.002  # 1,500 µs rounds half up
    assert (tasks["a"]["n_exceptions"], tasks["a"]["is_success"]) == (1, False)
    assert tasks["b"]["attributes"] == [("task.id", "b"), ("workflow.env", "w")]
    assert row["deps"] == [{"from_span_id": "a", "to_span_id": "b"}]
    assert row["logged_values"] == [
        {"task_span_id": "a", "name": "n", "type": "float", "value_str": None, "value_long": None,
         "value_double": 1000.0, "value_bool": None, "value_json": None}
    ]
    [wf] = row["workflow_runs"]
    assert (wf["span_id"], wf["duration_s"], wf["is_success"]) == ("top", 3.0, False)
    assert str(wf["start_time"]) == "2023-01-01 00:00:00+00:00"
    with pytest.raises(ValueError, match="run 'r' has 4 spans"):
        summarize_run(table, max_spans=3)
