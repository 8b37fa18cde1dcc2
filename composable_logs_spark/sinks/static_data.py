"""Static-site dataset sink (SURVEY §2.1 S7).

Reference: cli_generate_static_data.py:75-201 — union the workflow entry
and task entries of every run into one ``static_data.json`` under a
www-root, plus per-span artifact directories.

Rendered in plain Python from the collected report (``report.py``), the
same one the directory and Mermaid sinks use: a per-run reporting
dataset is small, so the sink itself runs no Spark.
"""

from __future__ import annotations

import json
from pathlib import Path

from ..plans.summarize import SpanSummary
from .mermaid import make_mermaid_dag, make_mermaid_gantt
from .report import Report, collect_report


def write_static_data(
    summary: SpanSummary | Report, www_root: str | Path, with_mermaid: bool = True
) -> Path:
    """Reference-layout www-root (cli_generate_static_data.py:75-175):
    per-workflow reporting artifacts under ``artifacts/workflow/{span}/``
    (dag.mmd + dag-nolinks.mmd + gantt.mmd + run-time-metadata.json),
    per-task logged artifacts + metadata under ``artifacts/task/{span}/``,
    and one ``static_data.json`` whose entries carry type /
    parent_span_id links and artifact name lists. Multi-run span tables
    (an extension; reference is one run per invocation, and span ids
    are only unique per run) nest each run's artifacts under a run_id
    subdirectory."""
    root = Path(www_root)
    root.mkdir(parents=True, exist_ok=True)
    report = collect_report(summary)
    single = len(report.workflows) == 1
    wf_span_of = {w["run_id"]: w["span_id"] for w in report.workflows}

    def art_base(run_id: str) -> Path:
        return root if single else root / run_id.replace("/", "-").replace(".", "-")

    entries = []
    for wf in report.workflows:
        adir = art_base(wf["run_id"]) / "artifacts" / "workflow" / wf["span_id"]
        adir.mkdir(parents=True, exist_ok=True)
        names: list[str] = []
        if with_mermaid:
            for name, text in (
                ("dag.mmd", make_mermaid_dag(report, wf["run_id"])),
                ("dag-nolinks.mmd", make_mermaid_dag(report, wf["run_id"], generate_links=False)),
                ("gantt.mmd", make_mermaid_gantt(report, wf["run_id"])),
            ):
                (adir / name).write_text(text)
                names.append(name)
        wf_meta = {
            "run_id": wf["run_id"],
            "span_id": wf["span_id"],
            "duration_s": wf["duration_s"],
            "is_success": wf["is_success"],
            "attributes": dict(wf["attributes"] or {}),
        }
        (adir / "run-time-metadata.json").write_text(json.dumps(wf_meta, indent=2))
        names.append("run-time-metadata.json")
        entries.append(
            {
                "entry_type": "workflow",
                "type": "workflow",
                "parent_span_id": None,
                "run_id": wf["run_id"],
                "span_id": wf["span_id"],
                "task_id": None,
                "task_type": None,
                "start_time": str(wf["start_time"]),
                "end_time": str(wf["end_time"]),
                "duration_s": wf["duration_s"],
                "is_success": wf["is_success"],
                "attributes": dict(wf["attributes"] or {}),
                "artifacts": names,
            }
        )

    for t in report.tasks:
        adir = art_base(t["run_id"]) / "artifacts" / "task" / t["span_id"]
        adir.mkdir(parents=True, exist_ok=True)
        names = []
        for a in report.task_artifacts(t):
            name = a["name"].replace("\\", "_").replace("/", "_")
            (adir / name).write_bytes(bytes(a["content"]))
            names.append(name)
        task_meta = {
            "run_id": t["run_id"],
            "span_id": t["span_id"],
            "task_id": t["task_id"],
            "duration_s": t["duration_s"],
            "is_success": t["is_success"],
            "attributes": dict(t["attributes"] or {}),
        }
        (adir / "run-time-metadata.json").write_text(json.dumps(task_meta, indent=2))
        names.append("run-time-metadata.json")
        entries.append(
            {
                "entry_type": "task",
                "type": "task",
                "parent_span_id": wf_span_of.get(t["run_id"]),
                "run_id": t["run_id"],
                "span_id": t["span_id"],
                "task_id": t["task_id"],
                "task_type": t["task_type"],
                "start_time": str(t["start_time"]),
                "end_time": str(t["end_time"]),
                "duration_s": t["duration_s"],
                "is_success": t["is_success"],
                "attributes": dict(t["attributes"] or {}),
                "artifacts": names,
                "logged_values": report.task_values(t),
            }
        )

    out = root / "static_data.json"
    out.write_text(json.dumps(entries, indent=2))
    return out
