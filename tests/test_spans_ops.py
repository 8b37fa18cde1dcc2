"""The reference's Spans.filter / sort_by_start_time / get_attributes as
DataFrame operators, checked against plain-Python filters over the same
fixture span dicts."""

from datetime import datetime

import pytest

from composable_logs_spark.operators.spans_ops import (
    assert_no_conflicts,
    attributes_with_prefix,
    filter_by_path,
    sort_by_start_time,
    union_attributes,
)
from composable_logs_spark.spanlog import fixtures as FX

from conftest import spans_df


def _ids(df):
    return sorted((r["context"]["trace_id"], r["context"]["span_id"]) for r in df.collect())


def _py_ids(spans, keep):
    return sorted((s["context"]["trace_id"], s["context"]["span_id"]) for s in spans if keep(s))


def test_spans_filter_sort_and_attributes(spark):
    spans = FX.compose3(0) + FX.parallel_fail(1) + FX.logged_values_fixture(4)
    df = spans_df(spark, spans)

    # filter: an attribute path, a struct path and a bool value
    g = filter_by_path(df, ["attributes", "task.id"], "g")
    assert _ids(g) == _py_ids(spans, lambda s: s["attributes"].get("task.id") == "g")
    assert len(_ids(g)) == 2  # task g of parallel_fail and of logged_values
    err = filter_by_path(df, ["status", "status_code"], "ERROR")
    assert _ids(err) == _py_ids(spans, lambda s: s["status"]["status_code"] == "ERROR")
    assert err.count() > 0
    true = filter_by_path(df, ["attributes", "content_encoded"], True)
    assert _ids(true) == _py_ids(spans, lambda s: s["attributes"].get("content_encoded") == "true")
    assert true.count() == 1
    # a missing path is a non-match, never an error
    for keys in (["attributes", "nope"], ["status", "nope"], ["nope"], ["attributes", "task", "id"]):
        assert filter_by_path(df, keys, "g").count() == 0, keys

    # sort_by_start_time, both directions, by instant: "...00Z" sorts
    # after "...00.001000Z" as text
    def start(s):
        return datetime.fromisoformat(s["start_time"].replace("Z", "+00:00"))

    starts = sorted(start(s) for s in spans)
    assert [start(r) for r in sort_by_start_time(df).collect()] == starts
    assert [start(r) for r in sort_by_start_time(df, reverse=True).collect()] == starts[::-1]

    # prefix projection keeps every span and only the matching keys
    got = sorted(
        (r["context"]["span_id"], r["context"]["trace_id"], sorted(r["attributes"].items()))
        for r in attributes_with_prefix(df, ["workflow."]).collect()
    )
    want = sorted(
        (
            s["context"]["span_id"],
            s["context"]["trace_id"],
            sorted((k, v) for k, v in s["attributes"].items() if k.startswith("workflow.")),
        )
        for s in spans
    )
    assert got == want

    # get_attributes: one run's workflow attributes union cleanly; two
    # runs with different workflow.env conflict
    assert assert_no_conflicts(
        union_attributes(spans_df(spark, FX.compose3(0)), ("workflow.",))
    ) == {"workflow.env": "xyz"}
    two_runs = spans_df(spark, FX.compose3(0) + FX.parallel_fail(1))
    with pytest.raises(ValueError, match="workflow.env"):
        assert_no_conflicts(union_attributes(two_runs, ("workflow.",)))
