"""One run report: the summary's per-run frame collected once, then
rendered by the directory, Mermaid and static-data sinks without running
Spark. Plain ``collect()``, not Arrow: pandas types would change the JSON
bytes, and at a few hundred rows the cost is per job.

Every list has an explicit order, independent of Spark's partitioning:
workflows by ``run_id``, tasks by ``(start_time, span_id)``, deps by
``(to_span_id, from_span_id)``; values and artefacts keep the summary's
``(start_time, span_id)`` span order, so a later duplicate name wins.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..plans.summarize import SpanSummary, nulls_first


@dataclass
class Report:
    workflows: list[dict]  # workflow_runs rows
    tasks: list[dict]  # task_runs rows
    tasks_by_run: dict[str, list[dict]]
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
        """name -> value; a later duplicate name wins, as in span order."""
        return {
            v["name"]: _value_of(v)
            for v in self.values_by_task.get((t["run_id"], t["span_id"]), [])
        }


def _value_of(v: dict):
    cols = ("value_str", "value_long", "value_double", "value_bool", "value_json")
    return next((v[k] for k in cols if v[k] is not None), None)


def _by_task(run_id: str, rows: list[dict]) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault((run_id, r["task_span_id"]), []).append({"run_id": run_id, **r})
    return out


def collect_report(source: SpanSummary | Report) -> Report:
    """The report of ``source``, collected on first use and memoised on
    the summary (its DataFrames are immutable, so the memo cannot go
    stale); a ``Report`` is returned as is."""
    if isinstance(source, Report):
        return source
    if source._report is None:
        runs = sorted(
            (r.asDict(recursive=True) for r in source.runs.collect()),
            key=lambda r: nulls_first(r["run_id"]),
        )
        report = Report([], [], {}, {}, {}, {})
        for r in runs:
            rid = r["run_id"]
            report.workflows += [{"run_id": rid, **w} for w in r["workflow_runs"]]
            tasks = [{"run_id": rid, **t} for t in r["task_runs"]]
            report.tasks += tasks
            report.tasks_by_run[rid] = sorted(
                tasks, key=lambda t: nulls_first(t["start_time"], t["span_id"])
            )
            report.deps_by_run[rid] = sorted(
                ({"run_id": rid, **d} for d in r["deps"]),
                key=lambda d: nulls_first(d["to_span_id"], d["from_span_id"]),
            )
            report.artifacts_by_task |= _by_task(rid, r["artifacts"])
            report.values_by_task |= _by_task(rid, r["logged_values"])
        report.tasks.sort(key=lambda t: nulls_first(t["start_time"], t["span_id"], t["run_id"]))
        source._report = report
    return source._report
