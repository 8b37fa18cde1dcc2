"""Golden tests for the parse_spans pipeline over FIXTURES.md A2 scenarios,
mirroring the reference's round-trip assertions (SURVEY §5)."""

import datetime

import pytest
from pyspark.sql import functions as F

import composable_logs_spark.operators.closure as closure
import composable_logs_spark.plans.summarize as summarize
from composable_logs_spark.operators import span_edges
from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.spanlog import fixtures as FX

from conftest import spans_df


def _summary(spark, fixture):
    return summarize_spans(spans_df(spark, fixture))


def test_compose3_task_runs(spark):
    s = _summary(spark, FX.compose3())
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert set(rows) == {"input_1", "input_2", "process"}
    assert all(r["is_success"] for r in rows.values())
    assert all(r["n_exceptions"] == 0 for r in rows.values())
    # durations: round(µs/1e6, 3) — reference Timing.get_duration_s
    assert rows["input_1"]["duration_s"] == 1.0
    assert rows["process"]["duration_s"] == 1.25
    # attributes = task.* ⊕ workflow.* (test_dag_runner.py:63-137)
    a = rows["input_1"]["attributes"]
    assert a["workflow.env"] == "xyz"
    assert a["task.x"] == "1"
    assert a["task.id"] == "input_1"
    assert rows["input_2"]["attributes"]["task.x"] == "2"


def test_compose3_deps(spark):
    s = _summary(spark, FX.compose3())
    task_ids = s.task_runs.select("span_id", "task_id")
    deps = (
        s.deps.join(task_ids.withColumnRenamed("span_id", "from_span_id")
                    .withColumnRenamed("task_id", "from_task"), "from_span_id")
        .join(task_ids.withColumnRenamed("span_id", "to_span_id")
              .withColumnRenamed("task_id", "to_task"), "to_span_id")
        .select("from_task", "to_task")
    )
    assert {(r["from_task"], r["to_task"]) for r in deps.collect()} == {
        ("input_1", "process"),
        ("input_2", "process"),
    }


def test_parallel_fail(spark):
    s = _summary(spark, FX.parallel_fail())
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert set(rows) == {"f", "g", "h"}
    assert rows["g"]["is_success"] is False
    assert rows["g"]["n_exceptions"] == 1
    assert rows["f"]["is_success"] and rows["h"]["is_success"]
    assert s.deps.count() == 0
    wf = s.workflow_runs.collect()
    assert len(wf) == 1 and wf[0]["is_success"] is False


def test_diamond5(spark):
    s = _summary(spark, FX.diamond5())
    assert s.task_runs.count() == 5
    assert s.deps.count() == 4
    wf = s.workflow_runs.collect()[0]
    assert wf["is_success"] is True
    assert wf["attributes"]["workflow.env"] == "diamond"


def test_diamond5_short_circuit(spark):
    # mid-DAG failure stops downstream (test_parallel_tasks.py:176-215)
    s = _summary(spark, FX.diamond5(fail_at="t2"))
    assert s.task_runs.count() == 3
    assert s.task_runs.where(~F.col("is_success")).count() == 1


def test_timeout(spark):
    s = _summary(spark, FX.timeout_fixture())
    r = s.task_runs.collect()[0]
    assert r["is_success"] is False
    assert r["attributes"]["task.timeout_s"] == "0.5"
    exc = s.validation_errors  # no validation errors for timeouts
    assert exc.count() == 0


def test_logged_values_scoped_per_task(spark):
    s = _summary(spark, FX.logged_values_fixture())
    lv = s.logged_values
    shared = {
        (r["task_span_id"], r["value_str"])
        for r in lv.where(F.col("name") == "shared").collect()
    }
    assert len(shared) == 2  # two tasks, two distinct values
    by_name = {r["name"]: r for r in
               lv.join(s.task_runs.where(F.col("task_id") == "h")
                       .select(F.col("span_id").alias("task_span_id")),
                       "task_span_id").collect()}
    assert by_name["an_int"]["value_long"] == 42
    assert by_name["a_float"]["value_double"] == 1.25
    assert by_name["a_bool"]["value_bool"] is True
    assert by_name["a_str"]["value_str"] == "hello"
    assert '"a"' in by_name["a_json"]["value_json"]


def test_artifact_roundtrip(spark):
    s = _summary(spark, FX.logged_values_fixture())
    arts = {r["name"]: r for r in s.artifacts.collect()}
    assert bytes(arts["plot.png"]["content"]) == bytes(range(256)) * 4
    assert bytes(arts["notes.txt"]["content"]).decode() == "some notes"
    assert arts["plot.png"]["length"] == 1024


def test_notebook_html_derived(spark):
    s = _summary(spark, FX.notebook_ok())
    names = {r["name"] for r in s.artifacts.collect()}
    assert names == {"notebook.ipynb", "notebook.html"}


def test_dup_value_flagged(spark):
    s = _summary(spark, FX.dup_value_error())
    errs = s.validation_errors.collect()
    assert len(errs) == 1
    assert errs[0]["kind"] == "duplicate-named-value"
    assert errs[0]["detail"] == "twice"


def test_multi_run_grouping(spark):
    spans = FX.compose3(0) + FX.parallel_fail(1) + FX.diamond5(2)
    s = summarize_spans(spans_df(spark, spans))
    assert s.workflow_runs.count() == 3
    assert s.task_runs.count() == 11
    per_run = {r["run_id"]: r["n"] for r in
               s.task_runs.groupBy("run_id").agg(F.count("*").alias("n")).collect()}
    assert sorted(per_run.values()) == [3, 3, 5]
    # span ids COLLIDE across runs (counter-based per run, like real OTel
    # where ids are only unique per trace) — exceptions must not leak
    # across runs through the closure joins.
    fails = {(r["run_id"], r["task_id"]) for r in
             s.task_runs.where(~F.col("is_success")).collect()}
    assert len(fails) == 1 and fails.pop()[1] == "g"
    wf = {r["run_id"]: r["is_success"] for r in s.workflow_runs.collect()}
    assert sorted(wf.values()) == [False, True, True]


def test_attr_conflict_reported_and_winner_deterministic(spark):
    # inject a conflicting task.* value on a subtree child: the conflict
    # must be REPORTED, and the surviving value must be the array_min
    # (stable run-to-run), not collect_set's arbitrary first element
    spans = FX.compose3()
    task_span = next(
        s for s in spans if s.get("attributes", {}).get("task.id") == "input_1"
    )
    child = next(
        s for s in spans if s.get("parent_id") == task_span["context"]["span_id"]
    )
    child.setdefault("attributes", {})["task.x"] = "0"  # task span says "1"

    outs = []
    for _ in range(2):
        s = _summary(spark, spans)
        errs = [
            (r["kind"], r["detail"]) for r in s.validation_errors.collect()
        ]
        assert ("attribute-conflict", "task.x") in errs
        row = next(
            r for r in s.task_runs.collect() if r["task_id"] == "input_1"
        )
        outs.append(row["attributes"]["task.x"])
    assert outs == ["0", "0"]  # min("0", "1") — deterministic winner


def test_fixture_run_index_past_datetime_range(spark):
    # run_idx hours after BASE_TS: indices that fit keep their start
    # (the pinned digests depend on it); others wrap, not overflow
    hour = datetime.timedelta(hours=1)
    for idx in (0, 255, 1023, FX._HOURS_AFTER - 1, -1, -FX._HOURS_BEFORE):
        assert FX.run_start(idx) == FX.BASE_TS + idx * hour
    assert FX.run_start(-FX._HOURS_BEFORE - 1) >= FX.BASE_TS
    big = FX._HOURS_AFTER + 5  # raised OverflowError before wrapping
    assert FX.run_start(big) == FX.BASE_TS + 5 * hour
    s = summarize_spans(spans_df(spark, FX.compose3(big)))
    got = {r["task_id"]: r["duration_s"] for r in s.task_runs.collect()}
    assert got == {"input_1": 1.0, "input_2": 1.5, "process": 1.25}


def _fixture_mix():
    """Every FX fixture as its own run (span ids collide across runs),
    plus an attribute conflict and repeated artefact/notebook runs."""
    spans = [s for make in FX.ALL_FIXTURES.values() for s in make()]
    conflict = FX.compose3(7)
    task = next(s for s in conflict if s["attributes"].get("task.id") == "input_1")
    child = next(s for s in conflict if s.get("parent_id") == task["context"]["span_id"])
    child["attributes"]["task.x"] = "0"
    return spans + conflict + FX.logged_values_fixture(8) + FX.notebook_ok(9)


def test_fixture_mix_digests_pinned(spark):
    # summaries_digest skips artifacts and validation_errors; pin them
    # (and the other four) on a mix that has rows in both
    from composable_logs_spark.spanlog.digest import multiset_digest, summaries_digest

    s = summarize_spans(spans_df(spark, _fixture_mix()))
    got = summaries_digest(s) | {
        "artifacts": multiset_digest(s.artifacts),
        "validation_errors": multiset_digest(s.validation_errors),
    }
    assert got == {
        "task_runs": (24, 12477902960759, 12479368760303),
        "workflow_runs": (10, 6444064957738, 6444629283334),
        "deps": (12, 6027154402608, 6027673008564),
        "logged_values": (20, 11330572398875, 11331494328671),
        "artifacts": (8, 3864242799182, 3864468538622),
        "validation_errors": (2, 1732383012932, 1732427489384),
    }


@pytest.mark.parametrize(
    "module, run",
    [
        (summarize, lambda spans: summarize_spans(spans).task_runs),
        (closure, lambda spans: closure.descendants(span_edges(spans))),
    ],
    ids=["summarize", "descendants"],
)
def test_run_above_span_limit_fails_naming_the_run(spark, monkeypatch, module, run):
    from pyspark.errors import PythonException

    monkeypatch.setattr(module, "MAX_SPANS_PER_RUN", 3)  # read when the plan is built
    out = run(spans_df(spark, FX.parallel_fail(1)))
    run_id = FX.parallel_fail(1)[0]["context"]["trace_id"]
    # raised in the Python worker; Spark re-raises it wrapped, traceback kept
    with pytest.raises(PythonException, match=rf"ValueError: run '{run_id}' has \d+ spans"):
        out.collect()
