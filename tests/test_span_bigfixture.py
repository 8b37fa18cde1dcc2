"""The 10^6-span generator (spanlog/biggen): the SAME summarisation
invariants the golden fixtures prove, on a generated multi-run log with
deep/wide/diamond/mixed DAG shapes, via the JSONL -> parquet-archive
path; and pinned summary digests up to 940,992 spans. The ~3.8M-span
digests are checked by tools/check_span_digests.py.
"""

import pytest
from pyspark.sql import functions as F

from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.spanlog.archive import (
    archive_spans,
    read_span_archive,
)
from composable_logs_spark.spanlog.biggen import generate_big_spanlog
from composable_logs_spark.spanlog.digest import summaries_digest
from composable_logs_spark.spanlog.sources import read_span_jsonl

_RUNS, _TASKS = 8, 120


def test_big_fixture_invariants(spark, tmp_path):
    log_dir = str(tmp_path / "biglog")
    total = generate_big_spanlog(log_dir, n_runs=_RUNS, tasks_per_run=_TASKS)

    raw = read_span_jsonl(spark, log_dir)
    assert raw.count() == total  # every generated span survives the scan

    # archive roundtrip: identical row count, schema-compatible
    arch_dir = str(tmp_path / "bigarch")
    archive_spans(spark, log_dir, arch_dir)
    spans = read_span_archive(spark, arch_dir)
    assert spans.count() == total

    s = summarize_spans(spans)
    tasks = s.task_runs.cache()
    # one summary row per generated task, per run
    assert tasks.count() == _RUNS * _TASKS
    per_run = tasks.groupBy("run_id").count().collect()
    assert len(per_run) == _RUNS
    assert all(r["count"] == _TASKS for r in per_run)

    # failure plant: every 97th global task index errored
    planted_fail = sum(
        1
        for run in range(_RUNS)
        for t in range(_TASKS)
        if (run * _TASKS + t) % 97 == 0
    )
    assert tasks.where(~F.col("is_success")).count() == planted_fail
    # workflow succeeds iff no planted failure in that run
    wf = {r["run_id"]: r["is_success"] for r in s.workflow_runs.collect()}
    assert len(wf) == _RUNS
    for run in range(_RUNS):
        expect = all(
            (run * _TASKS + t) % 97 != 0 for t in range(_TASKS)
        )
        assert wf[f"0x{run:032x}"] == expect

    # logged values: every 10th task logs one metric
    planted_vals = _RUNS * len([t for t in range(_TASKS) if t % 10 == 0])
    assert s.logged_values.count() == planted_vals

    # dependency edges: chain shape has n-1, fan-out n-1, diamond
    # 2*(n-layer), mixed mostly 2 — just check totals against the
    # generator's own bookkeeping via the legacy dependency spans
    # (the mixed shape can emit the same edge twice; A11 dedups, so
    # compare against DISTINCT emitted pairs)
    n_dep_edges = (
        raw.where(F.col("name") == "task-dependency")
        .select(
            F.col("context.trace_id"),
            F.col("attributes.from_task_span_id"),
            F.col("attributes.to_task_span_id"),
        )
        .distinct()
        .count()
    )
    assert s.deps.count() == n_dep_edges
    # no validation errors planted
    assert s.validation_errors.count() == 0

    # HASH-proof, not just invariants: the generator is
    # counter-deterministic, so every summary table has exactly one
    # correct content. Pinned multiset digests (order/partition/
    # session-shape-insensitive: see spanlog/digest.py) over all four
    # outputs — any closure or aggregation regression at 10^3-task
    # scale flips at least one of these.
    assert summaries_digest(s) == {
        "task_runs": (960, 531825139526520, 531878920131972),
        "workflow_runs": (8, 4183629561367, 4184192716567),
        "deps": (1162, 638295125182874, 638361574161218),
        "logged_values": (96, 49670163058122, 49676072725782),
    }


# Pinned summary digests of the generated log at 3,200 and 204,800 tasks
# (the second is 940,992 spans). They were pinned through the parquet
# archive; reading the JSONL directly gives the same digests.
_BIG_GOLDEN = {
    (32, 100): {
        "task_runs": (3200, 1772011136668887, 1772192363614803),
        "workflow_runs": (32, 16124174784924, 16125803295432),
        "deps": (3848, 2129654982555042, 2129875436790186),
        "logged_values": (320, 178437722863588, 178456483666708),
    },
    (256, 800): {
        "task_runs": (204800, 112360635184656918, 112364542080687119),
        "workflow_runs": (256, 140349831811029, 140365571198589),
        "deps": (254784, 140134401279133058, 140129032624503752),
        "logged_values": (20480, 11221897439570005, 11220860827261727),
    },
}


@pytest.mark.parametrize("runs,tasks", sorted(_BIG_GOLDEN))
def test_big_fixture_digest_pinned(spark, tmp_path, runs, tasks):
    log_dir = str(tmp_path / "biglog")
    generate_big_spanlog(log_dir, n_runs=runs, tasks_per_run=tasks)
    s = summarize_spans(read_span_jsonl(spark, log_dir))
    try:
        assert summaries_digest(s) == _BIG_GOLDEN[(runs, tasks)]
    finally:
        s.release()
