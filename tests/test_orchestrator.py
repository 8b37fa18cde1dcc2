"""Ports of the reference's DAG-semantics tests (SURVEY §5) against the
Spark-backed orchestrator: round-trip run → span log → summaries."""

import datetime
import json
import random
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from composable_logs_spark.orchestrator import (
    Failure,
    Success,
    task,
    run_dag,
    get_task_context,
)
from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.spanlog import read_span_jsonl


def _summarize(spark, log_dir):
    return summarize_spans(read_span_jsonl(spark, log_dir))


def test_compose_and_dependencies(spark, tmp_path):
    # reference test_dag_runner.py:63-144
    @task(task_id="input_1", task_parameters={"x": 1})
    def input_1():
        return 10

    @task(task_id="input_2", task_parameters={"x": 2})
    def input_2():
        return 20

    @task(task_id="process")
    def process(a, b):
        return a + b

    res = run_dag(
        process(input_1(), input_2()),
        workflow_parameters={"env": "xyz"},
        log_dir=tmp_path,
    )
    assert isinstance(res, Success)
    assert res.get() == [30]

    s = _summarize(spark, tmp_path)
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert set(rows) == {"input_1", "input_2", "process"}
    assert all(r["is_success"] for r in rows.values())
    assert rows["input_1"]["attributes"]["task.x"] == "1"
    assert rows["input_1"]["attributes"]["workflow.env"] == "xyz"
    # deps via summary join
    ids = {r["span_id"]: r["task_id"] for r in rows.values()}
    deps = {(ids[r["from_span_id"]], ids[r["to_span_id"]]) for r in s.deps.collect()}
    assert deps == {("input_1", "process"), ("input_2", "process")}


def test_parallel_failure_and_dedup(spark, tmp_path):
    # reference test_parallel_tasks.py:18-105 + exception dedup (:216-259)
    @task(task_id="f")
    def f():
        return 1

    @task(task_id="g1")
    def g1():
        raise ValueError("boom")

    @task(task_id="g2")
    def g2():
        raise ValueError("boom")  # same message -> dedup by str

    res = run_dag([f(), g1(), g2()], log_dir=tmp_path)
    assert isinstance(res, Failure)
    assert [str(e) for e in res.error.exceptions] == ["boom"]

    s = _summarize(spark, tmp_path)
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert rows["f"]["is_success"] is True
    assert rows["g1"]["is_success"] is False
    assert rows["g2"]["n_exceptions"] == 1


def test_diamond_short_circuit(spark, tmp_path):
    # reference test_parallel_tasks.py:111-215: mid-DAG failure stops
    # downstream; downstream bodies never execute
    ran = []

    @task(task_id="t0")
    def t0():
        ran.append("t0")
        return 0

    @task(task_id="t1")
    def t1():
        ran.append("t1")
        return 1

    @task(task_id="t2")
    def t2(a, b):
        ran.append("t2")
        raise RuntimeError("mid-dag failure")

    @task(task_id="t3")
    def t3(c):
        ran.append("t3")

    @task(task_id="t4")
    def t4(c):
        ran.append("t4")

    mid = t2(t0(), t1())
    res = run_dag([t3(mid), t4(mid)], log_dir=tmp_path)
    assert isinstance(res, Failure)
    assert [str(e) for e in res.error.exceptions] == ["mid-dag failure"]
    assert sorted(ran) == ["t0", "t1", "t2"]  # t3/t4 never ran

    s = _summarize(spark, tmp_path)
    assert s.task_runs.count() == 3  # no execute-task span for skipped nodes


def test_no_retry(spark, tmp_path):
    # reference test_ok_or_failed_task.py: a failing task runs exactly once
    calls = []

    @task(task_id="once")
    def once():
        calls.append(1)
        raise RuntimeError("fail once")

    res = run_dag(once(), log_dir=tmp_path)
    assert isinstance(res, Failure)
    assert len(calls) == 1


def test_timeout_returns_promptly(spark, tmp_path):
    # reference test_stuck_task.py:15-52
    @task(task_id="stuck", timeout_s=0.5)
    def stuck():
        time.sleep(10)

    t0 = time.time()
    res = run_dag(stuck(), log_dir=tmp_path)
    elapsed = time.time() - t0
    assert isinstance(res, Failure)
    assert "Timeout error" in str(res.error.exceptions[0])
    assert elapsed < 5  # did not wait for the stuck body

    s = _summarize(spark, tmp_path)
    r = s.task_runs.collect()[0]
    assert r["is_success"] is False
    assert r["attributes"]["task.timeout_s"] == "0.5"


def test_cpu_slot_queueing(spark, tmp_path):
    # reference test_task_queuing.py:19-87: 4 x 0.3s tasks on 2 cpus must
    # take > 0.6s, and spans must never show 3-way overlap
    @task(task_id="w", num_cpus=1)
    def w():
        time.sleep(0.3)

    t0 = time.time()
    res = run_dag([w(), w(), w(), w()], log_dir=tmp_path, max_cpus=2)
    elapsed = time.time() - t0
    assert isinstance(res, Success)
    assert elapsed > 0.6

    s = _summarize(spark, tmp_path)
    runs = [
        (r["start_time"], r["end_time"])
        for r in s.task_runs.collect()
    ]
    assert len(runs) == 4
    # no instant with 3 concurrent tasks: every 3-way range intersection
    # must be empty (interval intersection, J10 — as the reference asserts)
    from itertools import combinations

    for a, b, c in combinations(runs, 3):
        lo = max(a[0], b[0], c[0])
        hi = min(a[1], b[1], c[1])
        assert lo >= hi, f"3-way overlap: {a} {b} {c}"


def test_independent_task_not_blocked_by_waiting_siblings(spark, tmp_path):
    # three children wait on a slow task while 3 of 4 slots are free: a
    # waiting node must not hold up the independent task
    @task(task_id="slow")
    def slow():
        time.sleep(1)

    @task(task_id="child")
    def child(x):
        return x

    @task(task_id="free")
    def free():
        return 1

    s = slow()
    res = run_dag([child(s), child(s), child(s), free()], log_dir=tmp_path, max_cpus=4)
    assert isinstance(res, Success)

    rows = {r["task_id"]: r for r in _summarize(spark, tmp_path).task_runs.collect()}
    assert rows["free"]["start_time"] < rows["slow"]["end_time"]


def test_dispatch_stress_keeps_slot_bound_and_writes_every_span(tmp_path):
    # more slots than cores and a short switch interval: every task runs
    # once and writes all its spans, and no instant of the log shows more
    # than max_cpus slots in use
    rng = random.Random(0)

    def body(*upstream):
        time.sleep(0.001)
        return 1

    nodes = []
    for i in range(120):
        upstream = rng.sample(nodes, min(len(nodes), rng.randint(0, 2)))
        nodes.append(task(task_id=f"t{i}", num_cpus=rng.randint(1, 3))(body)(*upstream))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        res = run_dag(nodes, log_dir=tmp_path, max_cpus=8)
    finally:
        sys.setswitchinterval(interval)
    assert res.get() == [1] * 120

    lines = [line for p in tmp_path.glob("*.jsonl") for line in p.read_text().splitlines()]
    spans = [json.loads(line) for line in lines]
    n_deps = sum(len(n.upstream) for n in nodes)
    assert len(spans) == 3 * 120 + n_deps + 1
    tasks = [s for s in spans if s["name"] == "execute-task"]
    assert sorted(s["attributes"]["task.id"] for s in tasks) == sorted(f"t{i}" for i in range(120))
    # sweep the execute-task intervals; a task ending at the instant
    # another starts is not an overlap
    events = sorted(
        (datetime.datetime.fromisoformat(s[key]), sign * int(s["attributes"]["task.num_cpus"]))
        for s in tasks
        for key, sign in (("start_time", 1), ("end_time", -1))
    )
    in_use = 0
    for _, delta in events:
        in_use += delta
        assert in_use <= 8


def test_process_exits_promptly_after_a_timeout(tmp_path):
    # the abandoned body of a timed-out thread task must not hold up
    # interpreter exit
    script = f"""
import time
from composable_logs_spark.orchestrator import Failure, run_dag, task

@task(task_id="stuck", timeout_s=0.5)
def stuck():
    time.sleep(8)

assert isinstance(run_dag(stuck(), log_dir={str(tmp_path)!r}), Failure)
"""
    t0 = time.time()
    subprocess.run(
        [sys.executable, "-c", script], cwd=Path(__file__).parents[1], check=True, timeout=30
    )
    assert time.time() - t0 < 4


def test_values_retained_on_failure(spark, tmp_path):
    # reference test_task_opentelemetry_logging.py:245-283
    @task(task_id="partial")
    def partial():
        get_task_context().log_value("before_crash", 7)
        raise RuntimeError("crash after logging")

    res = run_dag(partial(), log_dir=tmp_path)
    assert isinstance(res, Failure)
    s = _summarize(spark, tmp_path)
    vals = s.logged_values.collect()
    assert len(vals) == 1
    assert vals[0]["name"] == "before_crash"
    assert vals[0]["value_long"] == 7


def test_invalid_parameters_rejected(tmp_path):
    # reference wrappers.py:250-260 prefix validation
    with pytest.raises(ValueError):
        task(task_id="bad", task_parameters={"other.x": 1})

    with pytest.raises(ValueError):
        task(task_id="bad", timeout_s=0)

    with pytest.raises(ValueError, match="num_cpus"):
        task(task_id="bad", num_cpus=-1)

    @task(task_id="ok")
    def ok():
        return 1

    with pytest.raises(ValueError, match="max_cpus"):
        run_dag(ok(), log_dir=tmp_path, max_cpus=0)


def test_kwargs_composition_rejected(tmp_path):
    @task(task_id="a")
    def a():
        return 1

    @task(task_id="b")
    def b(x):
        return x

    with pytest.raises(ValueError):
        b(x=a())


def test_process_executor_hard_kills_stuck_task(spark, tmp_path):
    # reference test_stuck_task.py:15-52 with the Ray-actor-kill semantics
    # (wrappers.py:126-193): a CPU-spinning body must STOP consuming
    # resources on timeout, not just be abandoned
    import multiprocessing

    @task(task_id="spin", timeout_s=1.0, executor="process")
    def spin():
        get_task_context().log_value("before_spin", 42)
        while True:  # pure-Python CPU burn: uninterruptible by threads
            pass

    t0 = time.time()
    res = run_dag(spin(), log_dir=tmp_path)
    elapsed = time.time() - t0
    assert isinstance(res, Failure)
    assert "Timeout error" in str(res.error.exceptions[0])
    assert elapsed < 10
    # the child was SIGKILLed and joined: nothing left burning CPU
    assert multiprocessing.active_children() == []

    s = _summarize(spark, tmp_path)
    r = s.task_runs.collect()[0]
    assert r["is_success"] is False
    # value logged before the kill was streamed out and retained (D10)
    lv = s.logged_values.collect()
    assert [(v["name"], v["value_long"]) for v in lv] == [("before_spin", 42)]


def test_process_executor_success_and_failure(spark, tmp_path):
    @task(task_id="ok", executor="process")
    def ok():
        get_task_context().log_value("n", 7)
        return 123

    @task(task_id="boom", executor="process")
    def boom(x):
        raise ValueError(f"bad {x}")

    res = run_dag(boom(ok()), log_dir=tmp_path)
    assert isinstance(res, Failure)
    assert "bad 123" in str(res.error.exceptions[0])

    s = _summarize(spark, tmp_path)
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert rows["ok"]["is_success"] is True
    assert rows["boom"]["is_success"] is False
    lv = s.logged_values.collect()
    assert [(v["name"], v["value_long"]) for v in lv] == [("n", 7)]


def test_process_executor_child_dies_without_result(spark, tmp_path):
    # a child that exits without sending its result fails the task at
    # once and keeps what it logged first
    import os

    @task(task_id="dies", executor="process")
    def dies():
        get_task_context().log_value("before_exit", 3)
        os._exit(3)

    t0 = time.time()
    res = run_dag(dies(), log_dir=tmp_path)
    assert time.time() - t0 < 5
    assert isinstance(res, Failure)
    assert "task process died without reporting a result" in str(res.error.exceptions[0])

    s = _summarize(spark, tmp_path)
    assert s.task_runs.collect()[0]["is_success"] is False
    lv = s.logged_values.collect()
    assert [(v["name"], v["value_long"]) for v in lv] == [("before_exit", 3)]


def test_process_executor_rejects_spark_bodies(spark, tmp_path):
    @task(task_id="wants_spark", executor="process")
    def wants_spark(spark):
        return 1

    res = run_dag(wants_spark(), log_dir=tmp_path, spark=spark)
    assert isinstance(res, Failure)
    assert "cannot take the shared" in str(res.error.exceptions[0])
