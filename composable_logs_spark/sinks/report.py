"""One run report: each summary table collected once, then rendered by
the directory, Mermaid and static-data sinks without running Spark.
Plain ``collect()``, not Arrow: pandas types would change the JSON
bytes, and at a few hundred rows a table the cost is per job.
"""

from __future__ import annotations

from dataclasses import dataclass
from operator import itemgetter

from ..plans.summarize import SpanSummary


@dataclass
class Report:
    workflows: list[dict]  # workflow_runs rows
    tasks: list[dict]  # task_runs rows
    tasks_by_run: dict[str, list[dict]]  # ordered by (start_time, span_id)
    deps_by_run: dict[str, list[dict]]
    artifacts_by_task: dict[tuple[str, str], list[dict]]  # (run_id, task_span_id)
    values_by_task: dict[tuple[str, str], list[dict]]

    def run_tasks(self, run_id: str) -> list[dict]:
        if run_id not in self.tasks_by_run:
            raise ValueError(f"run_id {run_id!r} is not in the report")
        return self.tasks_by_run[run_id]

    def task_artifacts(self, t: dict) -> list[dict]:
        return self.artifacts_by_task.get((t["run_id"], t["span_id"]), [])

    def task_values(self, t: dict) -> dict:
        """name -> value; a later duplicate name wins, as in row order."""
        return {
            v["name"]: _value_of(v)
            for v in self.values_by_task.get((t["run_id"], t["span_id"]), [])
        }


def _value_of(v: dict):
    cols = ("value_str", "value_long", "value_double", "value_bool", "value_json")
    return next((v[k] for k in cols if v[k] is not None), None)


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _group(rows: list[dict], key) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(key(r), []).append(r)
    return out


def collect_report(source: SpanSummary | Report) -> Report:
    """The report of ``source``, collected on first use and memoised on
    the summary (its DataFrames are immutable, so the memo cannot go
    stale); a ``Report`` is returned as is."""
    if isinstance(source, Report):
        return source
    if source._report is None:
        # task_runs first: it fills the summary caches the others read. It
        # stays cached while workflow_runs, which aggregates it, is collected
        task_runs = source.task_runs.cache()
        try:
            tasks, workflows = _rows(task_runs), _rows(source.workflow_runs)
        finally:
            task_runs.unpersist()
        # nulls first, as Spark's ascending sort; span_id breaks ties
        ordered = sorted(
            tasks,
            key=lambda t: (t["start_time"] is not None, t["start_time"] or 0, t["span_id"]),
        )
        by_run, by_task = itemgetter("run_id"), itemgetter("run_id", "task_span_id")
        source._report = Report(
            workflows=workflows,
            tasks=tasks,
            tasks_by_run={w["run_id"]: [] for w in workflows} | _group(ordered, by_run),
            deps_by_run=_group(_rows(source.deps), by_run),
            artifacts_by_task=_group(_rows(source.artifacts), by_task),
            values_by_task=_group(_rows(source.logged_values), by_task),
        )
    return source._report
