"""DAG orchestration with Spark as the execution backend (SURVEY §2.8).

Reproduces the reference's execution semantics (wrappers.py:237-497)
without Ray: ``@task`` wraps a Python function into a DAG node; calling
nodes on each other's outputs composes the DAG; ``run_dag`` executes it
on a thread pool with CPU-slot queueing, upstream-failure short-circuit,
timeout guards and no retries, while every event is emitted as spans to
an append-only JSONL log (the same shape ``spanlog.sources`` ingests).

Semantics preserved from the reference (SURVEY §7 "quirks"):
- task parameter keys must be prefixed ``task.``/``workflow.`` is
  reserved (wrappers.py:250-260); validation raises at decoration time
- ``timeout_s=None`` is recorded as -1 (wrappers.py:299)
- exceptions deduplicate by ``str(e)`` when grouped (wrappers.py:84-89)
- a task receiving any Failure argument never runs its body; the
  failures flatten into one group (wrappers.py:268-276)
- no retries (wrappers.py:263-267)
- kwargs composition unsupported (wrappers.py:323-327)
- values logged before a failure are retained
  (test_task_opentelemetry_logging.py:245-283)

Execution backend: task bodies receive the shared SparkSession (passed
via ``run_dag(spark=...)`` or closed over); each body typically runs
DataFrame jobs, so the *distributed* work happens on Spark executors
while this orchestrator only sequences them — the process boundary is
driver→executors, matching BASELINE.json's "Spark as execution backend".
"""

from __future__ import annotations

import datetime
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, Generic, Optional, TypeVar

from ..spanlog.codec import SerializedData
from ..spanlog.schema import (
    SPAN_ARTEFACT,
    SPAN_CALL_FUNCTION,
    SPAN_DAG_TOP,
    SPAN_EXECUTE_TASK,
    SPAN_NAMED_VALUE,
    SPAN_TASK_DEPENDENCY,
    SPAN_TIMEOUT_GUARD,
    iso8601,
    span_row,
)
from ..spanlog.writer import SpanWriter

T = TypeVar("T")


# --------------------------------------------------------------------------
# Try monad (reference: helpers.py:157-244)
class Try(Generic[T]):
    def is_success(self) -> bool:
        raise NotImplementedError

    def is_failure(self) -> bool:
        return not self.is_success()


@dataclass(frozen=True)
class Success(Try[T]):
    value: T

    def is_success(self) -> bool:
        return True

    def get(self) -> T:
        return self.value


@dataclass(frozen=True)
class Failure(Try[T]):
    error: BaseException

    def is_success(self) -> bool:
        return False

    def get(self):
        raise self.error


class ExceptionGroup_(Exception):
    """Exception group deduplicating by str(e) (wrappers.py:71-123)."""

    def __init__(self, exceptions: list[BaseException]):
        flat: list[BaseException] = []
        for e in exceptions:
            if isinstance(e, ExceptionGroup_):
                flat.extend(e.exceptions)
            else:
                flat.append(e)
        seen: dict[str, BaseException] = {}
        for e in flat:
            seen.setdefault(str(e), e)
        self.exceptions: list[BaseException] = list(seen.values())
        super().__init__(f"ExceptionGroup with {len(self.exceptions)} exception(s)")


# --------------------------------------------------------------------------
# Task context / in-task logging API (reference D10,
# task_opentelemetry_logging.py:268-403)
_context_local = threading.local()


@dataclass
class TaskContext:
    parameters: dict[str, Any]
    _emit: Callable[[str, str, Any], None] = None  # type: ignore[assignment]
    # W3C traceparent of the OWNING task span ("00-{trace}-{span}-01") —
    # what the reference hands task code for out-of-band attribution
    # (its MLFlow client uses it as the basic-auth username so shim-
    # logged values land under the task's execute-task span,
    # mlflow_server/server.py:41-72)
    traceparent: Optional[str] = None

    def log_value(self, name: str, value: Any) -> None:
        self._emit(SPAN_NAMED_VALUE, name, value)

    def log_string(self, name: str, value: str) -> None:
        self.log_value(name, str(value))

    def log_int(self, name: str, value: int) -> None:
        self.log_value(name, int(value))

    def log_float(self, name: str, value: float) -> None:
        self.log_value(name, float(value))

    def log_boolean(self, name: str, value: bool) -> None:
        self.log_value(name, bool(value))

    def log_artefact(self, name: str, content: str | bytes) -> None:
        self._emit(SPAN_ARTEFACT, name, content)

    def log_figure(self, name: str, fig: Any) -> None:
        """Log a matplotlib figure as a PNG artefact (reference
        task_opentelemetry_logging.py:330-352); gated on import."""
        import io

        buf = io.BytesIO()
        fig.savefig(buf, format="png")
        self.log_artefact(name, buf.getvalue())


def get_task_context() -> TaskContext:
    ctx = getattr(_context_local, "ctx", None)
    if ctx is None:
        raise RuntimeError("get_task_context() called outside a running task")
    return ctx


# --------------------------------------------------------------------------
@dataclass
class TaskResult(Generic[T]):
    """Value + provenance passed between tasks (reference wrappers.py:31-65)."""

    result: T
    span_id: str


@dataclass
class Node:
    """One bound task invocation (the reference's Ray FunctionNode)."""

    task_id: str
    fn: Callable[..., Any]
    parameters: dict[str, Any]
    num_cpus: int
    timeout_s: Optional[float]
    upstream: list["Node"] = field(default_factory=list)
    executor: str = "thread"  # "thread" (default) or "process" (hard-kill)

    # populated during run
    _result: Optional[Try] = None
    _task_result: Optional[TaskResult] = None


def task(
    task_id: str,
    task_parameters: Optional[dict[str, Any]] = None,
    num_cpus: int = 1,
    timeout_s: Optional[float] = None,
    executor: str = "thread",
):
    """Decorator wrapping a function into a DAG node factory (D1).

    Validation mirrors wrappers.py:250-260: parameter keys are
    auto-prefixed ``task.`` unless already prefixed; explicit non-task/
    workflow prefixes are rejected; timeout must be positive.
    """
    params: dict[str, Any] = {}
    for k, v in (task_parameters or {}).items():
        if "." in k and not (k.startswith("task.") or k.startswith("workflow.")):
            raise ValueError(
                f"parameter {k!r} must use the task./workflow. prefix"
            )
        params[k if k.startswith(("task.", "workflow.")) else f"task.{k}"] = v
    if timeout_s is not None and timeout_s <= 0:
        raise ValueError("timeout_s must be positive (or None for no timeout)")
    if executor not in ("thread", "process"):
        raise ValueError("executor must be 'thread' or 'process'")

    def deco(fn: Callable[..., Any]):
        def bind(*args: Node, **kwargs: Any) -> Node:
            if kwargs:
                # reference quirk: kwargs composition unsupported
                raise ValueError("composing tasks with kwargs is not supported")
            for a in args:
                if not isinstance(a, Node):
                    raise ValueError(
                        "task arguments must be upstream task nodes"
                    )
            return Node(
                task_id=task_id,
                fn=fn,
                parameters=dict(params),
                num_cpus=num_cpus,
                timeout_s=timeout_s,
                upstream=list(args),
                executor=executor,
            )

        bind.task_id = task_id  # type: ignore[attr-defined]
        return bind

    return deco


# --------------------------------------------------------------------------
class _CpuSlots:
    """CPU-budget queueing (D11): tasks block until slots free."""

    def __init__(self, total: int):
        self.total = total
        self.available = total
        self.cv = threading.Condition()

    def acquire(self, n: int) -> None:
        n = min(n, self.total)
        with self.cv:
            while self.available < n:
                self.cv.wait()
            self.available -= n

    def release(self, n: int) -> None:
        n = min(n, self.total)
        with self.cv:
            self.available += n
            self.cv.notify_all()


def _collect_nodes(sinks: list[Node]) -> list[Node]:
    """Topological order over the DAG reachable from the sink nodes."""
    order: list[Node] = []
    seen: set[int] = set()

    def visit(n: Node) -> None:
        if id(n) in seen:
            return
        seen.add(id(n))
        for u in n.upstream:
            visit(u)
        order.append(n)

    for s in sinks:
        visit(s)
    return order


def _process_child_main(fn, args, parameters, conn, data_path, traceparent=None) -> None:
    """Entry point of a process-executor task body (fork child).

    Each logged value/artefact is written DURABLY (append + flush +
    fsync) to ``data_path`` before ``log_value`` returns, so a later
    SIGKILL cannot lose it — the reference retains values logged before
    a failure (test_task_opentelemetry_logging.py:245-283), and pipe
    streaming raced the kill under load. The pipe carries only the one
    terminal ("ok", value) / ("err", type, str, traceback) message.
    """
    import json as _json
    import os as _os

    def _emit(span_name: str, name: str, value: Any) -> None:
        sd = SerializedData.encode(value)
        rec = {
            "t": iso8601(datetime.datetime.now(datetime.timezone.utc)),
            "span_name": span_name,
            "name": name,
            "type": sd.type,
            "encoding": sd.encoding,
            "content_encoded": sd.encoded_content,
        }
        with open(data_path, "a", encoding="utf-8") as f:
            f.write(_json.dumps(rec, separators=(",", ":")) + "\n")
            f.flush()
            _os.fsync(f.fileno())

    _context_local.ctx = TaskContext(
        parameters=parameters, _emit=_emit, traceparent=traceparent
    )
    try:
        value = fn(*args)
        try:
            conn.send(("ok", value))
        except Exception as e:  # unpicklable return value
            conn.send(("err", type(e).__name__, str(e), traceback.format_exc()))
    except BaseException as e:  # noqa: BLE001 — reported, not hidden
        conn.send(
            ("err", type(e).__name__, str(e), "".join(traceback.format_exception(e)))
        )
    finally:
        conn.close()


def _run_body_in_process(
    fn, args, parameters, timeout_s: Optional[float], on_data, traceparent=None
) -> tuple[Optional[BaseException], Any]:
    """D6 hard-kill path: run the body in a forked child; timeout =
    SIGKILL of the child (the analogue of the reference's ray.kill on the
    ExecActor, wrappers.py:126-193) — a CPU-spinning body demonstrably
    stops consuming resources, unlike the abandoned-thread default.

    Logged values arrive via the child's durable side file (see
    ``_process_child_main``), read back AFTER the child exits — there is
    no streaming to race the kill; anything the child fsync'd before the
    SIGKILL is retained.
    """
    import json as _json
    import multiprocessing as mp
    import os as _os
    import tempfile
    import time as _time

    ctx_mp = mp.get_context("fork")  # fork: fn/args need not be picklable
    parent_conn, child_conn = ctx_mp.Pipe(duplex=False)
    fd, data_path = tempfile.mkstemp(prefix="task-data-", suffix=".jsonl")
    _os.close(fd)
    proc = ctx_mp.Process(
        target=_process_child_main,
        args=(fn, args, parameters, child_conn, data_path, traceparent),
        daemon=True,
    )
    proc.start()
    child_conn.close()

    deadline = None if timeout_s is None else _time.monotonic() + timeout_s
    error: Optional[BaseException] = None
    value: Any = None
    terminal = False
    while not terminal:
        wait = 0.5 if deadline is None else max(0.0, deadline - _time.monotonic())
        if deadline is not None and wait == 0.0:
            error = Exception(
                "Timeout error: execution did not finish within timeout limit"
            )
            proc.kill()
            break
        try:
            if not parent_conn.poll(min(wait, 0.5) if deadline is not None else 0.5):
                if not proc.is_alive() and not parent_conn.poll(0):
                    error = Exception("task process died without reporting a result")
                    break
                continue
            msg = parent_conn.recv()
        except EOFError:
            error = Exception("task process died without reporting a result")
            break
        if msg[0] == "ok":
            value = msg[1]
            terminal = True
        else:  # ("err", type_name, str, traceback)
            error = Exception(msg[2])
            terminal = True
    proc.join(timeout=5)
    parent_conn.close()
    # replay the durable value log in order; a SIGKILL mid-write can
    # leave one partial trailing line — skip unparseable lines
    try:
        with open(data_path, encoding="utf-8") as f:
            for line in f:
                try:
                    rec = _json.loads(line)
                except ValueError:
                    continue
                on_data(
                    rec["span_name"],
                    rec["name"],
                    rec["type"],
                    rec["encoding"],
                    rec["content_encoded"],
                    datetime.datetime.fromisoformat(rec["t"]),
                )
    finally:
        try:
            _os.unlink(data_path)
        except OSError:
            pass
    return error, value


def _new_trace_id() -> str:
    import uuid

    return "0x" + uuid.uuid4().hex


def _new_span_id() -> str:
    import uuid

    return "0x" + uuid.uuid4().hex[:16]


def run_dag(
    dag: Node | list[Node],
    workflow_parameters: Optional[dict[str, Any]] = None,
    log_dir: str | Path = "/tmp/spans",
    max_cpus: int = 8,
    spark: Any = None,
) -> Try[list]:
    """Execute a DAG (D3): topological submission on a thread pool with
    CPU-slot queueing; returns Success([sink results]) or
    Failure(ExceptionGroup_). All events land as spans in ``log_dir``.

    ``spark``: optional SparkSession; if the task fn's first positional
    parameter is named ``spark`` it is injected (the execution-backend
    hook — task bodies run DataFrame jobs on the shared session).
    """
    sinks = dag if isinstance(dag, list) else [dag]
    nodes = _collect_nodes(sinks)
    writer = SpanWriter(log_dir)
    trace_id = _new_trace_id()
    top_span_id = _new_span_id()
    wf_params = {
        (k if k.startswith("workflow.") else f"workflow.{k}"): v
        for k, v in (workflow_parameters or {}).items()
    }
    top_start = datetime.datetime.now(datetime.timezone.utc)
    slots = _CpuSlots(max_cpus)

    def emit(span: dict) -> None:
        writer.write(span)

    def run_node(n: Node) -> Try:
        # wait for upstream (futures already resolved by topo submission)
        upstream_results = [u._result for u in n.upstream]
        failures = [r for r in upstream_results if r is not None and r.is_failure()]
        task_span_id = _new_span_id()
        attrs: dict[str, Any] = {
            "task.id": n.task_id,
            "task.type": "python",
            "task.num_cpus": n.num_cpus,
            "task.timeout_s": -1.0 if n.timeout_s is None else n.timeout_s,
            **n.parameters,
            **wf_params,
        }
        links = [
            {
                "context": {"trace_id": trace_id, "span_id": u._task_result.span_id},
                "attributes": {"type": "task-dependency"},
            }
            for u in n.upstream
            if u._task_result is not None
        ]

        if failures:
            # D4: short-circuit — body never runs, no execute-task span
            # is recorded for this node (the reference's skipped task
            # emits nothing of substance); flatten upstream errors.
            group = ExceptionGroup_([f.error for f in failures])
            return Failure(group)

        slots.acquire(n.num_cpus)
        # everything between acquire and the finally-release is guarded:
        # if span emission or result handling raises (e.g. disk full), the
        # CPU slots must not leak or later tasks block forever in acquire
        try:
            # the execute-task span opens AFTER slot acquisition: queueing
            # wait is not task runtime (matches the reference, where Ray
            # schedules before the task span starts — test_task_queuing.py)
            start = datetime.datetime.now(datetime.timezone.utc)
            child_spans: list[dict] = []
            guard_span_id = _new_span_id()
            call_span_id = _new_span_id()

            def append_data_span(
                span_name: str,
                name: str,
                sd_type: str,
                sd_enc: str,
                sd_content,
                at: Optional[datetime.datetime] = None,
            ) -> None:
                # `at`: log-time timestamp from the process executor's
                # durable side file (keeps last-value-wins ordering exact)
                now = at or datetime.datetime.now(datetime.timezone.utc)
                child_spans.append(
                    span_row(
                        span_id=_new_span_id(),
                        name=span_name,
                        start_time=now,
                        end_time=now,
                        trace_id=trace_id,
                        parent_id=call_span_id,
                        attributes={
                            "name": name,
                            "type": sd_type,
                            "encoding": sd_enc,
                            "content_encoded": sd_content,
                        },
                    )
                )

            def emit_data_span(span_name: str, name: str, value: Any) -> None:
                sd = SerializedData.encode(value)
                append_data_span(span_name, name, sd.type, sd.encoding, sd.encoded_content)

            # the task span's W3C traceparent (ids are "0x"-prefixed hex)
            task_traceparent = f"00-{trace_id[2:]}-{task_span_id[2:]}-01"
            ctx = TaskContext(
                parameters={**wf_params, **n.parameters},
                _emit=emit_data_span,
                traceparent=task_traceparent,
            )

            job_group = f"task-{task_span_id}"

            def body():
                _context_local.ctx = ctx
                try:
                    args = [u._task_result.result for u in n.upstream]
                    if spark is not None:
                        # D6: tag this task's Spark jobs so a timeout can
                        # cancel them (interruptOnCancel kills executor tasks)
                        spark.sparkContext.setJobGroup(
                            job_group, f"task {n.task_id}", interruptOnCancel=True
                        )
                        import inspect

                        sig = inspect.signature(n.fn)
                        first = next(iter(sig.parameters.values()), None)
                        if first is not None and first.name == "spark":
                            return n.fn(spark, *args)
                    return n.fn(*args)
                finally:
                    _context_local.ctx = None

            error: Optional[BaseException] = None
            value: Any = None
            call_start = datetime.datetime.now(datetime.timezone.utc)
            if n.executor == "process":
                # D6 hard-kill option: body runs in a forked child; timeout
                # = SIGKILL (reference parity: ray.kill on the ExecActor).
                # The shared SparkSession cannot cross the fork, so this
                # path is for pure-Python bodies (the ones that can spin).
                import inspect

                first = next(iter(inspect.signature(n.fn).parameters.values()), None)
                if first is not None and first.name == "spark":
                    error = ValueError(
                        "executor='process' tasks cannot take the shared "
                        "SparkSession; use the default thread executor"
                    )
                else:
                    error, value = _run_body_in_process(
                        n.fn,
                        [u._task_result.result for u in n.upstream],
                        {**wf_params, **n.parameters},
                        n.timeout_s,
                        append_data_span,
                        traceparent=task_traceparent,
                    )
            elif n.timeout_s is None:
                try:
                    value = body()
                except BaseException as e:  # noqa: BLE001 — reported, not hidden
                    error = e
            else:
                # D6: timeout guard. Python threads cannot be killed; the
                # body thread is abandoned on timeout (use
                # executor='process' for a hard kill). Spark jobs started
                # by the body are cancelled via the job group.
                guard_pool = ThreadPoolExecutor(max_workers=1)
                fut = guard_pool.submit(body)
                try:
                    value = fut.result(timeout=n.timeout_s)
                except TimeoutError:
                    error = Exception(
                        "Timeout error: execution did not finish within timeout limit"
                    )
                    fut.cancel()
                    if spark is not None:
                        # kill the task's in-flight Spark jobs (the reference
                        # kills its Ray actor here, wrappers.py:126-193); the
                        # Python wrapper thread is abandoned
                        try:
                            spark.sparkContext.cancelJobGroup(job_group)
                        except Exception:
                            pass
                except BaseException as e:  # noqa: BLE001
                    error = e
                finally:
                    # do NOT join the (possibly still running) body thread —
                    # the reference kills its Ray actor here; we abandon the
                    # thread and return the timeout Failure immediately
                    guard_pool.shutdown(wait=False)
            call_end = datetime.datetime.now(datetime.timezone.utc)

            status = ("ERROR", "Failure") if error is not None else ("OK", None)
            events = []
            if error is not None:
                events = [
                    {
                        "name": "exception",
                        "timestamp": iso8601(call_end),
                        "attributes": {
                            "exception.type": type(error).__name__,
                            "exception.message": str(error),
                            "exception.stacktrace": "".join(
                                traceback.format_exception(error)
                            ),
                            "exception.escaped": "false",
                        },
                    }
                ]

            # nested guard/call spans (wrappers.py:161-170 structure)
            emit(
                span_row(
                    span_id=call_span_id,
                    name=SPAN_CALL_FUNCTION,
                    start_time=call_start,
                    end_time=call_end,
                    trace_id=trace_id,
                    parent_id=guard_span_id,
                    status_code=status[0],
                    status_description=status[1],
                    events=events,
                )
            )
            emit(
                span_row(
                    span_id=guard_span_id,
                    name=SPAN_TIMEOUT_GUARD,
                    start_time=call_start,
                    end_time=call_end,
                    trace_id=trace_id,
                    parent_id=task_span_id,
                    status_code=status[0],
                    status_description=status[1],
                )
            )
            # snapshot: after a timeout the abandoned body thread may still
            # be appending while we iterate
            for sp in list(child_spans):  # logged values/artifacts (kept on failure)
                emit(sp)
            # legacy task-dependency spans (D7, wrappers.py:335-340)
            for u in n.upstream:
                if u._task_result is not None:
                    emit(
                        span_row(
                            span_id=_new_span_id(),
                            name=SPAN_TASK_DEPENDENCY,
                            start_time=start,
                            end_time=start,
                            trace_id=trace_id,
                            parent_id=task_span_id,
                            attributes={
                                "from_task_span_id": u._task_result.span_id,
                                "to_task_span_id": task_span_id,
                            },
                        )
                    )
            end = datetime.datetime.now(datetime.timezone.utc)
            emit(
                span_row(
                    span_id=task_span_id,
                    name=SPAN_EXECUTE_TASK,
                    start_time=start,
                    end_time=end,
                    trace_id=trace_id,
                    parent_id=top_span_id,
                    status_code=status[0],
                    status_description=status[1],
                    attributes=attrs,
                    links=links,
                )
            )
        finally:
            # release only after the span's end timestamp is recorded — else
            # a queued task can start inside this span's [start, end] window
            # and the log would show more than max_cpus concurrent tasks
            slots.release(n.num_cpus)

        n._task_result = TaskResult(result=value, span_id=task_span_id)
        if error is not None:
            return Failure(error if isinstance(error, ExceptionGroup_) else ExceptionGroup_([error]))
        return Success(value)

    # topo execution with parallelism: submit a node once all upstream done
    with ThreadPoolExecutor(max_workers=max(4, max_cpus)) as pool:
        futures: dict[int, Any] = {}

        def schedule(n: Node):
            for u in n.upstream:
                futures[id(u)].result()  # wait upstream completion
            # assign _result HERE (not after the pool drains): downstream
            # nodes read it for failure short-circuit
            n._result = run_node(n)
            return n._result

        for n in nodes:  # nodes are in topo order, so upstream submitted first
            futures[id(n)] = pool.submit(schedule, n)
        for n in nodes:
            n._result = futures[id(n)].result()

    top_end = datetime.datetime.now(datetime.timezone.utc)
    emit(
        span_row(
            span_id=top_span_id,
            name=SPAN_DAG_TOP,
            start_time=top_start,
            end_time=top_end,
            trace_id=trace_id,
            attributes=wf_params,
        )
    )

    sink_results = [s._result for s in sinks]
    errors = [r.error for r in sink_results if r.is_failure()]
    if errors:
        return Failure(ExceptionGroup_(errors))
    return Success([r.get() for r in sink_results])
