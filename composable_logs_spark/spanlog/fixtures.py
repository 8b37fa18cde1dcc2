"""Deterministic span-log fixture generator (FIXTURES.md A2 scenarios).

Generates span sets structurally identical to what the reference's Ray
tracing hook emits for its test DAGs (SURVEY §5), with fixed trace ids,
counter-based span ids and constant-offset timestamps so durations and
hashes are exact.
"""

from __future__ import annotations

import datetime
from typing import Any

from .codec import SerializedData
from . import schema as S

BASE_TS = datetime.datetime(2023, 1, 1, 0, 0, 0, tzinfo=datetime.timezone.utc)
_HOUR = datetime.timedelta(hours=1)
_HOURS_BEFORE = (BASE_TS - datetime.datetime.min.replace(tzinfo=BASE_TS.tzinfo)) // _HOUR
_HOURS_AFTER = (datetime.datetime.max.replace(tzinfo=BASE_TS.tzinfo) - BASE_TS) // _HOUR + 1


def run_start(run_idx: int) -> datetime.datetime:
    """``BASE_TS + run_idx`` hours. An index a datetime cannot hold wraps
    into ``[0, _HOURS_AFTER)`` instead of overflowing; every index that
    fits keeps its start, and with it the pinned summary digests."""
    if not -_HOURS_BEFORE <= run_idx < _HOURS_AFTER:
        run_idx %= _HOURS_AFTER
    return BASE_TS + run_idx * _HOUR


class SpanFixtureBuilder:
    """Builds one workflow run's span forest."""

    def __init__(self, run_idx: int = 0, workflow_attributes: dict[str, Any] | None = None):
        self.trace_id = f"0x{run_idx:032x}"
        self._counter = 0
        self.spans: list[dict[str, Any]] = []
        self._t0 = run_start(run_idx)
        wf_attrs = {f"workflow.{k}" if not k.startswith("workflow.") else k: v
                    for k, v in (workflow_attributes or {}).items()}
        self.workflow_attributes = wf_attrs
        self.top_span_id = self._new_id()
        # dag-top-span opens at t0; end set when .build() is called
        self._top_start = self._t0

    def _new_id(self) -> str:
        self._counter += 1
        return f"0x{self._counter:016x}"

    def _ts(self, offset_s: float) -> datetime.datetime:
        return self._t0 + datetime.timedelta(seconds=offset_s)

    def add_task(
        self,
        task_id: str,
        start_s: float,
        end_s: float,
        *,
        task_type: str = "python",
        num_cpus: int = 1,
        timeout_s: float = -1.0,
        parameters: dict[str, Any] | None = None,
        exception: tuple[str, str] | None = None,  # (type, message)
        depends_on: list[str] | None = None,  # upstream task span_ids
        logged_values: dict[str, Any] | None = None,
        artifacts: dict[str, bytes | str] | None = None,
        duplicate_value_name: str | None = None,
    ) -> str:
        """Add one execute-task span + its nested guard/call/data spans.
        Returns the task's span_id (for wiring dependencies)."""
        task_span_id = self._new_id()
        attrs: dict[str, Any] = {
            "task.id": task_id,
            "task.type": task_type,
            "task.num_cpus": num_cpus,
            "task.timeout_s": timeout_s,  # reference: None -> -1 (wrappers.py:299)
            **{k if k.startswith("task.") else f"task.{k}": v
               for k, v in (parameters or {}).items()},
            **self.workflow_attributes,
        }
        links = [
            {
                "context": {"trace_id": self.trace_id, "span_id": up},
                "attributes": {"type": "task-dependency"},
            }
            for up in (depends_on or [])
        ]
        events = []
        status_code, status_desc = "OK", None
        if exception is not None:
            exc_type, exc_msg = exception
            events = [
                {
                    "name": "exception",
                    "timestamp": S.iso8601(self._ts(end_s)),
                    "attributes": {
                        "exception.type": exc_type,
                        "exception.message": exc_msg,
                        "exception.stacktrace": f"Traceback: {exc_type}: {exc_msg}",
                        "exception.escaped": "false",
                    },
                }
            ]
            status_code, status_desc = "ERROR", "Failure"

        self.spans.append(
            S.span_row(
                span_id=task_span_id,
                name=S.SPAN_EXECUTE_TASK,
                start_time=self._ts(start_s),
                end_time=self._ts(end_s),
                trace_id=self.trace_id,
                parent_id=self.top_span_id,
                status_code=status_code,
                status_description=status_desc,
                attributes=attrs,
                events=events,
                links=links,
            )
        )
        # legacy task-dependency spans (reference wrappers.py:335-340)
        for up in depends_on or []:
            self.spans.append(
                S.span_row(
                    span_id=self._new_id(),
                    name=S.SPAN_TASK_DEPENDENCY,
                    start_time=self._ts(start_s),
                    end_time=self._ts(start_s),
                    trace_id=self.trace_id,
                    parent_id=task_span_id,
                    attributes={"from_task_span_id": up, "to_task_span_id": task_span_id},
                )
            )

        # nested timeout-guard -> call-python-function (wrappers.py:161-170)
        guard_id = self._new_id()
        self.spans.append(
            S.span_row(
                span_id=guard_id,
                name=S.SPAN_TIMEOUT_GUARD,
                start_time=self._ts(start_s),
                end_time=self._ts(end_s),
                trace_id=self.trace_id,
                parent_id=task_span_id,
                status_code=status_code,
                status_description=status_desc,
            )
        )
        call_id = self._new_id()
        self.spans.append(
            S.span_row(
                span_id=call_id,
                name=S.SPAN_CALL_FUNCTION,
                start_time=self._ts(start_s),
                end_time=self._ts(end_s),
                trace_id=self.trace_id,
                parent_id=guard_id,
                status_code=status_code,
                status_description=status_desc,
            )
        )

        data_seq = [0]

        def _data_span(span_name: str, name: str, value: Any) -> None:
            sd = SerializedData.encode(value)
            data_seq[0] += 1
            self.spans.append(
                S.span_row(
                    span_id=self._new_id(),
                    name=span_name,
                    start_time=self._ts(start_s + 0.001 * data_seq[0]),
                    end_time=self._ts(start_s + 0.001 * data_seq[0] + 0.0005),
                    trace_id=self.trace_id,
                    parent_id=call_id,
                    attributes={
                        "name": name,
                        "type": sd.type,
                        "encoding": sd.encoding,
                        "content_encoded": sd.encoded_content,
                    },
                )
            )

        for name, value in (logged_values or {}).items():
            _data_span(S.SPAN_NAMED_VALUE, name, value)
        if duplicate_value_name is not None:
            _data_span(S.SPAN_NAMED_VALUE, duplicate_value_name, "dup-a")
            _data_span(S.SPAN_NAMED_VALUE, duplicate_value_name, "dup-b")
        for name, content in (artifacts or {}).items():
            _data_span(S.SPAN_ARTEFACT, name, content)
        return task_span_id

    def build(self, end_s: float | None = None) -> list[dict[str, Any]]:
        ends = [s["end_time"] for s in self.spans] or [S.iso8601(self._t0)]
        top = S.span_row(
            span_id=self.top_span_id,
            name=S.SPAN_DAG_TOP,
            start_time=self._top_start,
            end_time=self._ts(end_s) if end_s is not None else max(ends),
            trace_id=self.trace_id,
            attributes=self.workflow_attributes,
        )
        return [top] + self.spans


def compose3(run_idx: int = 0) -> list[dict[str, Any]]:
    """input_1, input_2 -> process; workflow.env=xyz
    (reference test_dag_runner.py:63-137)."""
    b = SpanFixtureBuilder(run_idx, {"env": "xyz"})
    t1 = b.add_task("input_1", 0.0, 1.0, parameters={"x": 1})
    t2 = b.add_task("input_2", 0.0, 1.5, parameters={"x": 2})
    b.add_task("process", 2.0, 3.25, depends_on=[t1, t2])
    return b.build()


def parallel_fail(run_idx: int = 1) -> list[dict[str, Any]]:
    """f, g, h parallel; g raises (test_parallel_tasks.py:67-105)."""
    b = SpanFixtureBuilder(run_idx, {"env": "parallel"})
    b.add_task("f", 0.0, 1.0)
    b.add_task("g", 0.0, 0.5, exception=("ValueError", "task g failed"))
    b.add_task("h", 0.0, 2.0)
    return b.build()


def diamond5(run_idx: int = 2, fail_at: str | None = None) -> list[dict[str, Any]]:
    """0,1 -> 2 -> 3,4 (test_parallel_tasks.py:111-215). With ``fail_at``
    the run short-circuits: downstream tasks never execute."""
    b = SpanFixtureBuilder(run_idx, {"env": "diamond"})
    t0 = b.add_task("t0", 0.0, 1.0, exception=("RuntimeError", "boom") if fail_at == "t0" else None)
    if fail_at == "t0":
        return b.build()
    t1 = b.add_task("t1", 0.0, 1.2)
    t2 = b.add_task("t2", 1.5, 2.5, depends_on=[t0, t1],
                    exception=("RuntimeError", "boom") if fail_at == "t2" else None)
    if fail_at == "t2":
        return b.build()
    b.add_task("t3", 3.0, 4.0, depends_on=[t2])
    b.add_task("t4", 3.0, 4.5, depends_on=[t2])
    return b.build()


def timeout_fixture(run_idx: int = 3) -> list[dict[str, Any]]:
    """One stuck task, timeout_s=0.5 (test_stuck_task.py:15-52)."""
    b = SpanFixtureBuilder(run_idx, {"env": "timeout"})
    b.add_task(
        "stuck", 0.0, 0.5, timeout_s=0.5,
        exception=("Exception", "Timeout error: execution did not finish within timeout limit"),
    )
    return b.build()


def logged_values_fixture(run_idx: int = 4) -> list[dict[str, Any]]:
    """f,g log same names with different values; h logs all types + png
    artifact (test_task_opentelemetry_logging.py:108-216)."""
    b = SpanFixtureBuilder(run_idx, {"env": "logging"})
    f = b.add_task("f", 0.0, 1.0, logged_values={"shared": "from-f", "x": 1})
    g = b.add_task("g", 0.0, 1.0, logged_values={"shared": "from-g", "x": 2})
    b.add_task(
        "h", 2.0, 3.0, depends_on=[f, g],
        logged_values={
            "an_int": 42, "a_float": 1.25, "a_bool": True,
            "a_str": "hello", "a_json": {"a": [1, 2], "b": None},
        },
        artifacts={
            "plot.png": bytes(range(256)) * 4,
            "notes.txt": "some notes",
        },
    )
    return b.build()


def notebook_ok(run_idx: int = 5) -> list[dict[str, Any]]:
    """Jupytext task logging notebook.ipynb (test_ok_notebook.py:37-74)."""
    b = SpanFixtureBuilder(run_idx, {"env": "nb"})
    b.add_task(
        "nb-task", 0.0, 2.0, task_type="jupytext",
        artifacts={"notebook.ipynb": '{"cells": []}'},
    )
    return b.build()


def dup_value_error(run_idx: int = 6) -> list[dict[str, Any]]:
    """One task logs the same named value twice -> validation error
    (opentelemetry_task_span_parser.py:211-217)."""
    b = SpanFixtureBuilder(run_idx, {"env": "dup"})
    b.add_task("dup-task", 0.0, 1.0, duplicate_value_name="twice")
    return b.build()


ALL_FIXTURES = {
    "compose3": compose3,
    "parallel_fail": parallel_fail,
    "diamond5": diamond5,
    "timeout": timeout_fixture,
    "logged_values": logged_values_fixture,
    "notebook_ok": notebook_ok,
    "dup_value_error": dup_value_error,
}
