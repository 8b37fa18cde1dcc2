"""The benchmark workloads and the Spark session they share.

Each workload has the same life cycle, driven by ``run.py``:
``prepare`` (seeded inputs, untimed, before set-up), ``warmup`` (untimed),
``measure`` (returns one latency per operation), ``layer_metrics`` and
``event_log_metrics`` (traced run only) and ``report`` (named timings for
the human-readable lines). Correctness checks run outside the timed
regions and add to ``attempted`` / ``failed`` / ``problems``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from pathlib import Path
from typing import Any

from inputs import TABLES, dag_edges, dag_spec, write_tables
from tracing import Tracer, shuffle_bytes_by_job

SUMMARY_TABLES = (
    "task_runs", "workflow_runs", "deps", "logged_values", "artifacts", "validation_errors",
)


def _box_memory_mb() -> int:
    pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return pages // (1024 * 1024)


class Context:
    """The Spark session sized to this box, the scratch directory and the
    tracer. ``cpus`` and shuffle partitions follow the CPUs this process
    may use; driver memory stays well below box RAM."""

    def __init__(self, work: Path, seed: int, trace: bool):
        self.work = work
        self.seed = seed
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = Tracer(False)
        self.event_log = work / "eventlog"
        self.session_starts: list[float] = []
        self._jvm = None

    def conf(self) -> dict[str, str]:
        mem_mb = min(2048, _box_memory_mb() // 4)
        conf = {
            "spark.driver.memory": f"{mem_mb}m",
            # a fixed-size, pre-touched heap keeps the JVM's resident size
            # from depending on how much of the heap the collector happened
            # to touch, so peak RSS moves with non-heap and driver memory.
            # Compile thresholds at a tenth of the default let the JIT reach
            # steady state within the warm-up: with the defaults, operations
            # were still getting faster by a third over the next ~50 s
            "spark.driver.extraJavaOptions": (
                f"-Xms{mem_mb}m -XX:+AlwaysPreTouch -XX:CompileThresholdScaling=0.1"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.trace:
            self.event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        return conf

    def start_session(self) -> None:
        """(Re)start the session; the first call also launches the JVM."""
        from pyspark import SparkContext

        from composable_logs_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            "perfbench", cpus=self.cpus, shuffle_partitions=self.cpus, extra_conf=self.conf()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_starts.append(time.perf_counter() - t0)
        self._jvm = SparkContext._gateway.proc

    def jvm_pid(self) -> int:
        return self._jvm.pid

    def enable_tracing(self) -> None:
        self.tracer = Tracer(True, self.spark.sparkContext)

    def stop(self) -> None:
        """Stop the session and the JVM process, and wait for it to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self._jvm is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            # the JVM exits when its stdin closes
            self._jvm.stdin.close()
            try:
                self._jvm.wait(timeout=30)
            except Exception:
                self._jvm.kill()
                self._jvm.wait()
            self._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _closed_loop(op, seconds: float) -> list[float]:
    """Run ``op`` back to back (one client), at least once, starting another
    only while it should end within ``seconds`` (the last latency predicts
    the next), so a run does not overrun its window by most of an op."""
    samples: list[float] = []
    end = time.perf_counter() + seconds
    while not samples or time.perf_counter() + samples[-1] <= end:
        samples.append(op())
    return samples


class _Workload:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.plan_jobs: list[int] = []  # plans-layer Spark jobs of the traced phase

    def _record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def event_log_metrics(self, ctx: Context) -> dict[str, float]:
        by_job = shuffle_bytes_by_job(ctx.event_log)
        return {"plans.shuffle_bytes": sum(by_job.get(j, 0) for j in self.plan_jobs)}

    def close(self) -> None:
        """Stop what the workload started inside the session."""

    def report(self) -> dict[str, tuple[float, str]]:
        """Named figures for the human-readable lines, besides the
        operation latency."""
        return {}


# --------------------------------------------------------------------------
N_TASKS = 800
WARMUP_TASKS = 48


def _dag_nodes(specs) -> list:
    """Orchestrator nodes for ``specs``: every task logs an int, some log
    an artefact, the planted one raises."""
    from composable_logs_spark.orchestrator import get_task_context, task

    def body(index: int, spec):
        def fn(*upstream):
            ctx = get_task_context()
            ctx.log_int("value", index)
            if spec.artefact:
                ctx.log_artefact("out.txt", spec.artefact)
            if spec.fails:
                raise ValueError(f"planted failure in {spec.task_id}")
            return index
        return fn

    nodes: list = []
    for i, spec in enumerate(specs):
        nodes.append(task(spec.task_id)(body(i, spec))(*[nodes[u] for u in spec.upstream]))
    return nodes


def _run_dag(specs, log_dir: Path, seed: int, cpus: int, spark=None):
    from composable_logs_spark.orchestrator import run_dag

    return run_dag(
        _dag_nodes(specs),
        workflow_parameters={"seed": seed},
        log_dir=log_dir,
        max_cpus=cpus,
        spark=spark,
    )


def _check_dag_run(specs, result, log_dir: Path) -> tuple[list[str], int, int]:
    """Problems of one ``run_dag`` run (exactly the planted failure, every
    span written), plus the span count and span-log bytes."""
    problems: list[str] = []
    errors = [] if result.is_success() else result.error.exceptions
    if len(errors) != 1 or "planted failure" not in str(errors[0]):
        problems.append(f"run_dag: expected the one planted failure, got {errors!r}")
    span_files = list(log_dir.glob("*.jsonl"))
    n_spans = sum(p.read_bytes().count(b"\n") for p in span_files)
    n_bytes = sum(p.stat().st_size for p in span_files)
    n_art = sum(1 for sp in specs if sp.artefact)
    n_deps = sum(len(sp.upstream) for sp in specs)
    # per task: execute-task, timeout-guard, call-function, logged int;
    # plus artefacts, legacy dependency spans and the dag-top span
    want_spans = 4 * len(specs) + n_art + n_deps + 1
    if n_spans != want_spans:
        problems.append(f"spanlog: {n_spans} spans written, expected {want_spans}")
    return problems, n_spans, n_bytes


class RunReport(_Workload):
    """``run_dag`` on an 800-task layered DAG, with the session as its
    execution backend, then that run's report: read_span_jsonl ->
    summarize_spans -> directory, mermaid and static data sinks. Closed
    loop, one client; one operation = DAG run + report."""

    OP_NAME = "run_report_s"

    def __init__(self) -> None:
        super().__init__()
        self.n = 0
        self.last: dict[str, Any] = {}
        self.timings: list[tuple[float, float]] = []  # (dag_s, report_s)
        self.stream_batches: list[list[float]] = []  # per traced op: batch seconds

    def prepare(self, ctx: Context) -> None:
        self.specs = dag_spec(ctx.seed, N_TASKS)
        self.warm_specs = dag_spec(ctx.seed, WARMUP_TASKS)

    def warmup(self, ctx: Context) -> None:
        """A small DAG and its report: the same Spark plans, compiled."""
        self._op(ctx, self.warm_specs)
        self.timings.clear()

    def measure(self, ctx: Context, seconds: float) -> list[float]:
        return _closed_loop(lambda: self._op(ctx, self.specs), seconds)

    def _op(self, ctx: Context, specs) -> float:
        from composable_logs_spark.plans import summarize_spans
        from composable_logs_spark.sinks import (
            make_mermaid_dag,
            make_mermaid_gantt,
            write_spans_to_directory,
            write_static_data,
        )
        from composable_logs_spark.spanlog import read_span_jsonl

        tr = ctx.tracer
        out = ctx.work / f"report-{self.n}"
        log_dir = out / "spans"
        self.n += 1
        ctx.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tr.span("bench.op"):
            with tr.span("orchestrator.run_dag"):
                result = _run_dag(specs, log_dir, ctx.seed, ctx.cpus, ctx.spark)
            t1 = time.perf_counter()
            with tr.span("spanlog.read_span_jsonl"):
                spans = read_span_jsonl(ctx.spark, log_dir)
            with tr.span("plans.summarize_spans"):
                s = summarize_spans(spans)
            with tr.span("sinks.write_spans_to_directory"):
                # the sinks force the summary tables: their Spark work
                # counts in the sinks layer
                write_spans_to_directory(s, out / "dir")
            with tr.span("sinks.run_id"):
                run_id = s.workflow_runs.select("run_id").first()["run_id"]
            graphs = {}
            with tr.span("sinks.make_mermaid_dag"):
                graphs["dag.mmd"] = make_mermaid_dag(s, run_id)
            with tr.span("sinks.make_mermaid_dag.nolinks"):
                graphs["dag-nolinks.mmd"] = make_mermaid_dag(s, run_id, generate_links=False)
            with tr.span("sinks.make_mermaid_gantt"):
                graphs["gantt.mmd"] = make_mermaid_gantt(s, run_id)
            with tr.span("sinks.write_static_data"):
                write_static_data(s, out / "www", with_mermaid=False)
        t2 = time.perf_counter()
        self.timings.append((t1 - t0, t2 - t1))
        self._check(specs, result, s, out, graphs)
        if tr.enabled:
            self._layer_steps(ctx, log_dir)
        shutil.rmtree(out, ignore_errors=True)
        return t2 - t0

    def _layer_steps(self, ctx: Context, log_dir: Path) -> None:
        """Traced run only, outside the timed operation: the closure and
        each summary table forced on its own, from a cold cache, so their
        cost shows per layer and per table; then the stream step."""
        from composable_logs_spark.operators import descendants, span_edges
        from composable_logs_spark.plans import summarize_spans
        from composable_logs_spark.spanlog import read_span_jsonl

        tr = ctx.tracer
        ctx.spark.catalog.clearCache()
        with tr.span("bench.layers"):
            with tr.span("spanlog.read_span_jsonl"):
                spans = read_span_jsonl(ctx.spark, log_dir)
            with tr.span("operators.closure"):
                self.last["closure_rows"] = descendants(span_edges(spans)).count()
            with tr.span("plans.summarize_spans"):
                s = summarize_spans(spans)
            # in this order the caches the tables share land in task_runs
            for name in SUMMARY_TABLES:
                with tr.span(f"plans.force.{name}"):
                    getattr(s, name).write.format("noop").mode("overwrite").save()
            self._stream_step(ctx, log_dir)

    def _stream_step(self, ctx: Context, log_dir: Path) -> None:
        """Traced run only: the run's span log through ``stream_task_runs``
        (file source, dedup state, per-batch summarise) from a fresh
        checkpoint. Every task run must reach the sink exactly once."""
        from composable_logs_spark.streaming import stream_task_runs

        src = ctx.work / f"stream-{self.n}"
        src.mkdir()
        for f in log_dir.glob("*.jsonl"):
            shutil.copy(f, src)
        emitted: list[str] = []

        def on_batch(task_runs, batch_id: int) -> None:
            emitted.extend(r["task_id"] for r in task_runs.select("task_id").collect())

        with ctx.tracer.span("streaming.stream_task_runs"):
            query = stream_task_runs(
                ctx.spark, src, on_batch, checkpoint_dir=str(ctx.work / f"checkpoint-{self.n}")
            )
            try:
                query.processAllAvailable()
                progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
            finally:
                query.stop()
        self.stream_batches.append([p["durationMs"]["triggerExecution"] / 1000 for p in progress])
        problems = []
        if sorted(emitted) != sorted(sp.task_id for sp in self.specs):
            problems.append(
                f"stream_task_runs: {len(emitted)} task runs ({len(set(emitted))} distinct),"
                f" expected each of the {len(self.specs)} tasks once"
            )
        self._record(problems)

    def _check(self, specs, result, s, out: Path, graphs: dict[str, str]) -> None:
        """Structural checks: the run has exactly the planted failure and
        wrote every span; static_data.json has tasks + 1 entries with
        exactly the planted task failed; one directory per task; deps
        equal the DAG edges; well-formed mermaid output."""
        problems, n_spans, n_bytes = _check_dag_run(specs, result, out / "spans")
        self.last.update(spans=n_spans, span_bytes=n_bytes)
        failing = {sp.task_id for sp in specs if sp.fails}
        n = len(specs)

        entries = json.loads((out / "www" / "static_data.json").read_text())
        tasks = [e for e in entries if e["entry_type"] == "task"]
        if len(entries) != n + 1:
            problems.append(f"static_data.json: {len(entries)} entries, expected {n + 1}")
        if sorted(e["task_id"] for e in tasks) != sorted(sp.task_id for sp in specs):
            problems.append("static_data.json: task ids differ from the DAG")
        failed = {e["task_id"] for e in tasks if not e["is_success"]}
        if failed != failing:
            problems.append(f"failed tasks {sorted(failed)}, expected {sorted(failing)}")

        task_dirs = [p.name for p in (out / "dir").iterdir() if p.is_dir()]
        if len(task_dirs) != n:
            problems.append(f"directory sink: {len(task_dirs)} task dirs, expected {n}")
        if sum(d.endswith("--FAILED") for d in task_dirs) != 1:
            problems.append("directory sink: expected exactly one FAILED task dir")

        task_of = {e["span_id"]: e["task_id"] for e in tasks}
        deps = {
            (task_of.get(r["from_span_id"]), task_of.get(r["to_span_id"]))
            for r in s.deps.select("from_span_id", "to_span_id").collect()
        }
        edges = dag_edges(specs)
        if deps != edges:
            problems.append(f"deps: {len(deps)} edges differ from the {len(edges)} DAG edges")

        if not graphs["dag.mmd"].startswith("graph") or "gantt" not in graphs["gantt.mmd"]:
            problems.append("mermaid: malformed output")
        if sum(t in graphs["dag-nolinks.mmd"] for t in ("task_0000", specs[-1].task_id)) != 2:
            problems.append("mermaid: DAG misses tasks")

        self.last["files"] = sum(len(fs) for _, _, fs in os.walk(out / "dir")) + sum(
            len(fs) for _, _, fs in os.walk(out / "www")
        )
        self._record(problems)

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        """Per traced operation: times are means, counts are per operation."""
        tr = ctx.tracer
        n_ops = max(1, tr.count("bench.op"))
        plans = tr.spark_work("plans.")
        sinks = tr.spark_work("sinks.")
        self.plan_jobs = plans["job_ids"]
        # every task runs: the planted failure sits in the sink layer
        tasks_run = len(self.specs)
        m = {
            "orchestrator.task_overhead_ms": 1000 * tr.mean("orchestrator.run_dag") / tasks_run,
            "orchestrator.tasks_run": tasks_run,
            "orchestrator.tasks_skipped": 0,
            "spanlog.spans_written": self.last["spans"],
            "spanlog.bytes_per_span": self.last["span_bytes"] / max(self.last["spans"], 1),
            "spanlog.read_s": tr.mean("spanlog.read_span_jsonl"),
            "operators.closure_s": tr.mean("operators.closure"),
            "operators.closure_rows": self.last["closure_rows"],
            "operators.closure_jobs": tr.spark_work("operators.")["jobs"] / n_ops,
            "plans.build_s": tr.mean("plans.summarize_spans"),
            "plans.spark_jobs": plans["jobs"] / n_ops,
            "plans.spark_stages": plans["stages"] / n_ops,
            "plans.spark_tasks": plans["tasks"] / n_ops,
            "sinks.directory_s": tr.mean("sinks.write_spans_to_directory"),
            "sinks.mermaid_s": tr.total("sinks.make_mermaid") / n_ops,
            "sinks.static_data_s": tr.mean("sinks.write_static_data"),
            "sinks.files_written": self.last["files"],
            "sinks.spark_jobs": sinks["jobs"] / n_ops,
            "streaming.ingest_s": tr.mean("streaming.stream_task_runs"),
            "streaming.batches": statistics.mean(len(b) for b in self.stream_batches),
            "streaming.batch_s": _median([x for b in self.stream_batches for x in b]),
        }
        for name in SUMMARY_TABLES:
            m[f"plans.force_s.{name}"] = tr.mean(f"plans.force.{name}")
        return m

    def report(self) -> dict[str, tuple[float, str]]:
        return {
            "dag_s": (statistics.median(t[0] for t in self.timings), "s"),
            "report_s": (statistics.median(t[1] for t in self.timings), "s"),
        }


# --------------------------------------------------------------------------
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_top3_parts_per_supplier",
    "sessionize_user_events",
    "range_join_error_attribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_top5",
    "text_token_stats",
    "stream_tumbling_counts",
)


def _canon(v: Any) -> Any:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


class QueryMix(_Workload):
    """The 11 non-span headline queries over seeded TPC-H-like tables, in
    a fixed order with the cache cleared before each query. Closed loop,
    one client; one operation = one pass over the mix."""

    OP_NAME = "query_mix_s"
    SCALE = 0.05  # half the row counts of the reference sf0.1 tables

    def prepare(self, ctx: Context) -> None:
        self.tables = ctx.work / f"tables-scale{self.SCALE}-seed{ctx.seed}"
        write_tables(self.tables, ctx.seed, self.SCALE)

    def _oracle(self, ctx: Context, specs: dict) -> dict[str, tuple[list, list]]:
        """(columns, rows) of every query's DuckDB oracle over the same files."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {ctx.cpus}")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            out = {}
            for name in QUERY_MIX:
                res = con.execute(specs[name].oracle)
                out[name] = ([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def warmup(self, ctx: Context) -> None:
        """Untimed: every query once, its rows collected and matched
        against the DuckDB oracle, which runs meanwhile on a thread; then
        one pass as measured. Right after the checked pass alone, a pass
        was still ~12% slower than the ones after it (7.7 s, then
        6.3-6.9 s), so a run that fitted one pass in its window read slower
        than one that fitted three."""
        from concurrent.futures import ThreadPoolExecutor

        from composable_logs_spark.queries import all_queries

        specs = all_queries()
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(self._oracle, ctx, specs)
            results = {}
            for name in QUERY_MIX:
                df = specs[name].fn(ctx.spark, str(self.tables))
                results[name] = (df.columns, df.collect())
            want_all = oracle.result()
        for name in QUERY_MIX:
            cols, rows = results[name]
            ocols, orows = want_all[name]
            problems = []
            if sorted(cols) != sorted(ocols):
                problems.append(f"{name}: columns {cols} != oracle {ocols}")
            else:
                idx = [ocols.index(c) for c in cols]
                got = sorted((tuple(_canon(x) for x in r) for r in rows), key=repr)
                want = sorted((tuple(_canon(r[i]) for i in idx) for r in orows), key=repr)
                if got != want:
                    problems.append(f"{name}: {len(got)} rows differ from {len(want)} oracle rows")
            self._record(problems)
        self._pass(ctx)

    def measure(self, ctx: Context, seconds: float) -> list[float]:
        return _closed_loop(lambda: self._pass(ctx), seconds)

    def _pass(self, ctx: Context) -> float:
        from composable_logs_spark.queries import all_queries

        specs = all_queries()
        elapsed = 0.0
        with ctx.tracer.span("bench.op"):
            for name in QUERY_MIX:
                ctx.spark.catalog.clearCache()
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span(f"queries.{name}"):
                        df = specs[name].fn(ctx.spark, str(self.tables))
                        df.write.format("noop").mode("overwrite").save()
                    self._record([])
                except Exception as e:  # counted as a failed operation
                    self._record([f"{name}: {type(e).__name__}: {e}"])
                elapsed += time.perf_counter() - t0
        return elapsed

    def layer_metrics(self, ctx: Context) -> dict[str, float]:
        tr = ctx.tracer
        m: dict[str, float] = {f"queries.{name}_s": tr.mean(f"queries.{name}") for name in QUERY_MIX}
        m["queries.spark_jobs"] = tr.spark_work("queries.")["jobs"] / max(1, tr.count("bench.op"))
        return m


WORKLOADS = {
    "run_report": RunReport,
    "query_mix": QueryMix,
}
