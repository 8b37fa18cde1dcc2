"""DAG orchestration with Spark as the execution backend (SURVEY §2.8).

Reproduces the reference's execution semantics (wrappers.py:237-497)
without Ray: ``@task`` wraps a Python function into a DAG node; calling
nodes on each other's outputs composes the DAG; ``run_dag`` executes it
with CPU-slot queueing, upstream-failure short-circuit, timeout guards
and no retries, while every event is emitted as spans to an append-only
JSONL log (the same shape ``spanlog.sources`` ingests).

``run_dag`` is one dispatch loop on the calling thread, the way Ray
starts a task once its dependencies are done and its CPUs are free
(Moritz et al., OSDI'18). The loop owns every piece of scheduling state:
a count of unfinished upstream nodes per node, a FIFO of ready nodes and
the number of free CPU slots. It hands a ready node that fits to a pool
of ``max_cpus`` workers and waits for the first to finish, so no worker
ever blocks on an upstream node and a waiting node never holds up an
independent one. Each task writes its spans in one append when its body
is done; its slots come back only after that.

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

import dataclasses
import datetime
import inspect
import json
import multiprocessing as mp
import os
import tempfile
import threading
import traceback
import uuid
from collections import deque
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from multiprocessing import connection as mp_connection
from pathlib import Path
from typing import Any, Callable, Generic, Optional, TypeVar

from ..spanlog.schema import (
    SPAN_ARTEFACT,
    SPAN_CALL_FUNCTION,
    SPAN_DAG_TOP,
    SPAN_EXECUTE_TASK,
    SPAN_NAMED_VALUE,
    SPAN_TASK_DEPENDENCY,
    SPAN_TIMEOUT_GUARD,
    data_span,
    iso8601,
    new_span_id,
    span_row,
)
from ..spanlog.writer import SpanWriter

T = TypeVar("T")


def _now() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc)


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
    if num_cpus < 0:
        raise ValueError(f"num_cpus must be at least 0, got {num_cpus}")
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


_TIMEOUT_MESSAGE = "Timeout error: execution did not finish within timeout limit"


def _outcome(call: Callable[[], Any]) -> tuple[Optional[BaseException], Any]:
    """``(error, value)`` of ``call()``; the error is reported, not raised."""
    try:
        return None, call()
    except BaseException as e:  # noqa: BLE001 — reported, not hidden
        return e, None


def _process_child_main(fn, args, ctx: TaskContext, make_span, conn, data_path) -> None:
    """Entry point of a process-executor task body (fork child).

    Each logged value/artefact is written DURABLY, as its finished span
    (append + flush + fsync), to ``data_path`` before ``log_value``
    returns, so a later SIGKILL cannot lose it — the reference retains
    values logged before a failure (test_task_opentelemetry_logging.py:
    245-283). The pipe carries only the one terminal ("ok", value) /
    ("err", message) result.
    """

    def log(span_name: str, name: str, value: Any) -> None:
        line = json.dumps(make_span(span_name, name, value), separators=(",", ":"))
        with open(data_path, "a", encoding="utf-8") as f:
            f.write(line + "\n")
            f.flush()
            os.fsync(f.fileno())

    _context_local.ctx = dataclasses.replace(ctx, _emit=log)
    try:
        error, value = _outcome(lambda: fn(*args))
        if error is None:
            try:
                conn.send(("ok", value))
            except Exception as e:  # unpicklable return value
                error = e
        if error is not None:
            conn.send(("err", str(error)))
    finally:
        conn.close()


def _run_body_in_process(
    fn, args, ctx: TaskContext, timeout_s: Optional[float], make_span
) -> tuple[Optional[BaseException], Any, list[dict]]:
    """D6 hard-kill path: run the body in a forked child; timeout =
    SIGKILL of the child (the analogue of the reference's ray.kill on the
    ExecActor, wrappers.py:126-193) — a CPU-spinning body demonstrably
    stops consuming resources, unlike an abandoned thread.

    Returns ``(error, value, logged spans)``. The spans come from the
    child's durable side file (see ``_process_child_main``), read back
    AFTER the child exits, so anything it fsync'd before a SIGKILL is
    retained. A child that dies without reporting fails the task.
    """
    ctx_mp = mp.get_context("fork")  # fork: fn/args need not be picklable
    parent_conn, child_conn = ctx_mp.Pipe(duplex=False)
    fd, data_path = tempfile.mkstemp(prefix="task-data-", suffix=".jsonl")
    os.close(fd)
    proc = ctx_mp.Process(
        target=_process_child_main,
        args=(fn, args, ctx, make_span, child_conn, data_path),
        daemon=True,
    )
    proc.start()
    child_conn.close()
    try:
        if not mp_connection.wait([parent_conn, proc.sentinel], timeout_s):
            proc.kill()
            msg = ("err", _TIMEOUT_MESSAGE)
        else:
            try:  # a dead child's pipe reads EOF once its result is drained
                msg = parent_conn.recv()
            except EOFError:
                msg = ("err", "task process died without reporting a result")
        proc.join(timeout=5)
    finally:
        parent_conn.close()
    # a SIGKILL mid-write can leave one partial trailing line: skip it
    spans = []
    with open(data_path, encoding="utf-8") as f:
        for line in f:
            try:
                spans.append(json.loads(line))
            except ValueError:
                continue
    os.unlink(data_path)
    if msg[0] == "ok":
        return None, msg[1], spans
    return Exception(msg[1]), None, spans


def run_dag(
    dag: Node | list[Node],
    workflow_parameters: Optional[dict[str, Any]] = None,
    log_dir: str | Path = "/tmp/spans",
    max_cpus: int = 8,
    spark: Any = None,
) -> Try[list]:
    """Execute a DAG (D3); returns Success([sink results]) or
    Failure(ExceptionGroup_). All events land as spans in ``log_dir``.

    One dispatch loop on the calling thread starts each node, in FIFO
    order, once its upstream nodes are done and ``min(num_cpus,
    max_cpus)`` of the ``max_cpus`` slots are free (D11); bodies run on
    a pool of ``max_cpus`` workers.

    ``spark``: optional SparkSession; if the task fn's first positional
    parameter is named ``spark`` it is injected (the execution-backend
    hook — task bodies run DataFrame jobs on the shared session).
    """
    if max_cpus < 1:
        raise ValueError(f"max_cpus must be at least 1, got {max_cpus}")
    sinks = dag if isinstance(dag, list) else [dag]
    nodes = _collect_nodes(sinks)
    writer = SpanWriter(log_dir)
    trace_id = "0x" + uuid.uuid4().hex
    top_span_id = new_span_id()
    wf_params = {
        (k if k.startswith("workflow.") else f"workflow.{k}"): v
        for k, v in (workflow_parameters or {}).items()
    }
    top_start = _now()

    def run_node(n: Node) -> Try:
        """Run one node's body on a pool worker and write all its spans in
        one append. The dispatch loop frees the node's slots only after
        this returns, so the log never shows more than max_cpus in use."""
        # the execute-task span opens once the node holds its slots:
        # queueing wait is not task runtime (matches the reference, where
        # Ray schedules before the task span starts — test_task_queuing.py)
        start = _now()
        task_span_id, guard_span_id, call_span_id = new_span_id(), new_span_id(), new_span_id()
        upstream_ids = [u._task_result.span_id for u in n.upstream]
        args = [u._task_result.result for u in n.upstream]
        data: list[dict] = []  # logged values/artefacts (kept on failure)

        def make_span(span_name: str, name: str, value: Any) -> dict:
            return data_span(span_name, name, value, trace_id, call_span_id)

        ctx = TaskContext(
            parameters={**wf_params, **n.parameters},
            _emit=lambda *a: data.append(make_span(*a)),
            # the task span's W3C traceparent (ids are "0x"-prefixed hex)
            traceparent=f"00-{trace_id[2:]}-{task_span_id[2:]}-01",
        )
        first = next(iter(inspect.signature(n.fn).parameters.values()), None)
        wants_spark = first is not None and first.name == "spark"
        job_group = f"task-{task_span_id}"

        def body():
            _context_local.ctx = ctx
            try:
                if spark is not None:
                    # D6: tag this task's Spark jobs so a timeout can
                    # cancel them (interruptOnCancel kills executor tasks)
                    spark.sparkContext.setJobGroup(
                        job_group, f"task {n.task_id}", interruptOnCancel=True
                    )
                    if wants_spark:
                        return n.fn(spark, *args)
                return n.fn(*args)
            finally:
                _context_local.ctx = None

        call_start = _now()
        if n.executor == "process":
            # D6 hard-kill option (reference parity: ray.kill on the
            # ExecActor). The shared SparkSession cannot cross the fork,
            # so this path is for pure-Python bodies (the ones that spin).
            if wants_spark:
                error, value = ValueError(
                    "executor='process' tasks cannot take the shared "
                    "SparkSession; use the default thread executor"
                ), None
            else:
                error, value, logged = _run_body_in_process(
                    n.fn, args, ctx, n.timeout_s, make_span
                )
                data.extend(logged)
        elif n.timeout_s is None:
            error, value = _outcome(body)
        else:
            # D6: timeout guard. Python threads cannot be killed: the body
            # runs on a daemon thread that is abandoned if it overruns, and
            # a daemon thread does not hold up interpreter exit (use
            # executor='process' for a hard kill).
            box: list = []
            t = threading.Thread(target=lambda: box.append(_outcome(body)), daemon=True)
            t.start()
            t.join(n.timeout_s)
            if box:
                error, value = box[0]
            else:
                error, value = Exception(_TIMEOUT_MESSAGE), None
                if spark is not None:
                    # kill the task's in-flight Spark jobs (the reference
                    # kills its Ray actor here, wrappers.py:126-193)
                    try:
                        spark.sparkContext.cancelJobGroup(job_group)
                    except Exception:
                        pass
        call_end = _now()

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
                        "exception.stacktrace": "".join(traceback.format_exception(error)),
                        "exception.escaped": "false",
                    },
                }
            ]
        # nested guard/call spans (wrappers.py:161-170 structure), the
        # logged values (snapshot: an abandoned body thread may still be
        # appending), then the legacy task-dependency spans (D7,
        # wrappers.py:335-340) and the task span itself
        spans = [
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
            ),
            span_row(
                span_id=guard_span_id,
                name=SPAN_TIMEOUT_GUARD,
                start_time=call_start,
                end_time=call_end,
                trace_id=trace_id,
                parent_id=task_span_id,
                status_code=status[0],
                status_description=status[1],
            ),
            *data,
        ]
        for u in upstream_ids:
            spans.append(
                span_row(
                    span_id=new_span_id(),
                    name=SPAN_TASK_DEPENDENCY,
                    start_time=start,
                    end_time=start,
                    trace_id=trace_id,
                    parent_id=task_span_id,
                    attributes={"from_task_span_id": u, "to_task_span_id": task_span_id},
                )
            )
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
                "context": {"trace_id": trace_id, "span_id": u},
                "attributes": {"type": "task-dependency"},
            }
            for u in upstream_ids
        ]
        spans.append(
            span_row(
                span_id=task_span_id,
                name=SPAN_EXECUTE_TASK,
                start_time=start,
                end_time=_now(),
                trace_id=trace_id,
                parent_id=top_span_id,
                status_code=status[0],
                status_description=status[1],
                attributes=attrs,
                links=links,
            )
        )
        writer.write_many(spans)

        n._task_result = TaskResult(result=value, span_id=task_span_id)
        if error is None:
            return Success(value)
        return Failure(error if isinstance(error, ExceptionGroup_) else ExceptionGroup_([error]))

    # the dispatch loop: unfinished-upstream counts, a FIFO of ready
    # nodes and the free slot count, all owned by this thread
    pending = {id(n): len(n.upstream) for n in nodes}
    children: dict[int, list[Node]] = {id(n): [] for n in nodes}
    for n in nodes:
        for u in n.upstream:
            children[id(u)].append(n)
    ready = deque(n for n in nodes if not n.upstream)
    free = max_cpus
    running: dict[Future, Node] = {}

    def slots(n: Node) -> int:
        return min(n.num_cpus, max_cpus)

    def settle(n: Node, result: Try) -> None:
        """Record ``n``'s result and queue each child whose upstream is now
        done. D4: a child with a failed upstream never runs its body, takes
        no slot and writes no span; its upstream errors flatten into one
        group, and it settles at once."""
        todo = [(n, result)]
        while todo:
            n, result = todo.pop()
            n._result = result
            for c in children[id(n)]:
                pending[id(c)] -= 1
                if pending[id(c)] == 0:
                    failures = [u._result.error for u in c.upstream if u._result.is_failure()]
                    if failures:
                        todo.append((c, Failure(ExceptionGroup_(failures))))
                    else:
                        ready.append(c)

    with ThreadPoolExecutor(max_workers=max_cpus) as pool:
        while ready or running:
            while ready and slots(ready[0]) <= free:
                n = ready.popleft()
                free -= slots(n)
                running[pool.submit(run_node, n)] = n
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in done:
                n = running.pop(fut)
                free += slots(n)
                settle(n, fut.result())

    writer.write(
        span_row(
            span_id=top_span_id,
            name=SPAN_DAG_TOP,
            start_time=top_start,
            end_time=_now(),
            trace_id=trace_id,
            attributes=wf_params,
        )
    )

    sink_results = [s._result for s in sinks]
    errors = [r.error for r in sink_results if r.is_failure()]
    if errors:
        return Failure(ExceptionGroup_(errors))
    return Success([r.get() for r in sink_results])
