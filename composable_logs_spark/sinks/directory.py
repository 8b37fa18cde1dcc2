"""Directory-tree sink (SURVEY §2.1 S6).

Reference: write_spans_to_output_directory_structure
(cli_pynb_log_parser.py:38-81): one directory per task run named
``{type}-task--{task_id}--{span_id}--{OK|FAILED}`` (task_id's ``/`` and
``.`` replaced by ``-``, :59-70) containing ``run-time-metadata.json``
plus the decoded artifact files under ``artifacts/`` (:76-81); a
top-level ``run-time-metadata.json`` describes the workflow run (:50-52).

Single-run inputs reproduce that layout EXACTLY at ``out_dir``; with
multiple runs in one span table (an extension — the reference CLI is
one-run-per-invocation) each run gets the reference layout inside its
own ``{run_id}/`` subdirectory.

The tree is rendered in plain Python from the collected report
(``report.py``), as the reference CLI does: a per-run reporting tree is
small by construction (one workflow's artifacts). For bulk export of
MANY runs use ``df.write.partitionBy("run_id")`` on the artifacts table
instead.

Plan, then write (``tree.py``): the whole tree is rendered first, as a
map from relative path to bytes, in the order run metadata, then per
task its metadata and artifacts; a later entry for the same path wins,
so when two run ids share a directory name (``a.b`` and ``a/b`` are both
``a-b``) the later run in report order wins file by file. The shared
writer then writes it on a thread pool. A name that would leave
``out_dir``, or a symlink already under it on a planned path, raises
``ValueError`` naming the path; nothing lands outside ``out_dir``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from ..plans.summarize import SpanSummary
from .report import Report, collect_report
from .tree import tree_path, write_tree

_METADATA = "run-time-metadata.json"


def _safe_name(s: str) -> str:
    """Path-safety (reference F6, cli_pynb_log_parser.py:25-28 + dir-name
    building :59-70): ``/`` and ``.`` become ``-``, as the reference's
    ``task_dir`` builder does."""
    return re.sub(r"[/.]", "-", s)


def _safe_artifact_name(s: str) -> str:
    """Artifact FILE names keep their extension dots but must not carry
    separators or traversal components — names come from span-log data."""
    s = s.replace("\\", "_").replace("/", "_")
    return "_" if s in ("", ".", "..") else s


def _tree(report: Report) -> dict[str, bytes]:
    """The directory tree as a ``write_tree`` plan."""
    workflows = {w["run_id"]: w for w in report.workflows}

    def run_dir(run_id: str) -> str:
        # single run -> reference-identical layout directly at out_dir
        return "" if len(workflows) == 1 else _safe_name(run_id)

    files: dict[str, bytes] = {}
    for run_id, wf in workflows.items():
        meta = {
            "run_id": run_id,
            "duration_s": wf["duration_s"],
            "is_success": wf["is_success"],
            "attributes": wf["attributes"] or {},
        }
        files[tree_path(run_dir(run_id), _METADATA)] = _json(meta)

    for t in report.tasks:
        status = "OK" if t["is_success"] else "FAILED"
        dir_name = "--".join(
            [
                f"{t['task_type'] or 'python'}-task",
                _safe_name(t["task_id"] or "unknown"),
                t["span_id"],
                status,
            ]
        )
        task_dir = tree_path(run_dir(t["run_id"]), dir_name)
        meta = {
            "task_id": t["task_id"],
            "span_id": t["span_id"],
            "duration_s": t["duration_s"],
            "is_success": t["is_success"],
            "n_exceptions": t["n_exceptions"],
            "attributes": t["attributes"] or {},
            "logged_values": report.task_values(t),
        }
        files[tree_path(task_dir, _METADATA)] = _json(meta)

        # artifacts live under an artifacts/ subdirectory
        # (cli_pynb_log_parser.py:76-81)
        for a in report.task_artifacts(t):
            name = _safe_artifact_name(a["name"])
            files[tree_path(task_dir, "artifacts", name)] = bytes(a["content"])
    return files


def _json(meta: dict) -> bytes:
    return json.dumps(meta, indent=2, default=str).encode()


def write_spans_to_directory(summary: SpanSummary | Report, out_dir: str | Path) -> list[str]:
    """Write the exploded per-task directory tree; returns the path of
    every file written, joined onto ``out_dir`` as given."""
    files = _tree(collect_report(summary))
    write_tree(out_dir, files)
    return [str(Path(out_dir, rel)) for rel in files]
