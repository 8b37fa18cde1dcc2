"""Static-site dataset sink (SURVEY §2.1 S7).

Reference: cli_generate_static_data.py:75-201 — union the workflow entry
and task entries of every run into one ``static_data.json`` under a
www-root, plus per-span artifact directories.

Rendered in plain Python from the collected report (``report.py``), the
same one the directory and Mermaid sinks use: a per-run reporting
dataset is small, so the sink itself runs no Spark.

Plan, then write, with the directory sink's writer (``tree.py``): the
whole www-root is rendered first, as a map from relative path to bytes
(text as UTF-8, whatever the process's locale), in the order workflow
files, task files, ``static_data.json``; a later entry for the same path
wins, so when two run ids share a directory name the later run in report
order wins file by file, while ``static_data.json`` keeps both runs'
entries. The writer then writes it on a thread pool. A name that would
leave ``www_root``, or a symlink already under it on a planned path,
raises ``ValueError`` naming the path; nothing lands outside it.
"""

from __future__ import annotations

import json
from pathlib import Path

from ..plans.summarize import SpanSummary
from .directory import _METADATA, _safe_artifact_name, _safe_name
from .mermaid import make_mermaid_dag, make_mermaid_gantt
from .report import Report, collect_report
from .tree import tree_path, write_tree


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
    report = collect_report(summary)
    write_tree(www_root, _tree(report, with_mermaid))
    return Path(www_root) / "static_data.json"


def _tree(report: Report, with_mermaid: bool) -> dict[str, bytes]:
    """The www-root as a ``write_tree`` plan."""
    single = len(report.workflows) == 1
    wf_span_of = {w["run_id"]: w["span_id"] for w in report.workflows}

    def art_dir(run_id: str, kind: str, span_id: str) -> str:
        run_part = () if single else (_safe_name(run_id),)
        return tree_path(*run_part, "artifacts", kind, span_id)

    files: dict[str, bytes] = {}
    entries = []
    for wf in report.workflows:
        adir = art_dir(wf["run_id"], "workflow", wf["span_id"])
        names: list[str] = []
        if with_mermaid:
            for name, text in (
                ("dag.mmd", make_mermaid_dag(report, wf["run_id"])),
                ("dag-nolinks.mmd", make_mermaid_dag(report, wf["run_id"], generate_links=False)),
                ("gantt.mmd", make_mermaid_gantt(report, wf["run_id"])),
            ):
                files[tree_path(adir, name)] = text.encode()
                names.append(name)
        wf_meta = {
            "run_id": wf["run_id"],
            "span_id": wf["span_id"],
            "duration_s": wf["duration_s"],
            "is_success": wf["is_success"],
            "attributes": dict(wf["attributes"] or {}),
        }
        files[tree_path(adir, _METADATA)] = json.dumps(wf_meta, indent=2).encode()
        names.append(_METADATA)
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
        adir = art_dir(t["run_id"], "task", t["span_id"])
        names = []
        for a in report.task_artifacts(t):
            name = _safe_artifact_name(a["name"])
            files[tree_path(adir, name)] = bytes(a["content"])
            names.append(name)
        task_meta = {
            "run_id": t["run_id"],
            "span_id": t["span_id"],
            "task_id": t["task_id"],
            "duration_s": t["duration_s"],
            "is_success": t["is_success"],
            "attributes": dict(t["attributes"] or {}),
        }
        files[tree_path(adir, _METADATA)] = json.dumps(task_meta, indent=2).encode()
        names.append(_METADATA)
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

    files["static_data.json"] = json.dumps(entries, indent=2).encode()
    return files
