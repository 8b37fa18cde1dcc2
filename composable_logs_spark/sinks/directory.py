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
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from ..plans.summarize import SpanSummary
from .report import Report, collect_report


def _safe_name(s: str) -> str:
    """Path-safety (reference F6, cli_pynb_log_parser.py:25-28 + dir-name
    building :59-70): ``/`` and ``.`` become ``-``, as the reference's
    ``task_dir`` builder does."""
    return re.sub(r"[/.]", "-", s)


def _safe_artifact_name(s: str) -> str:
    """Artifact FILE names keep their extension dots but must not carry
    separators or traversal components — names come from span-log data."""
    s = s.replace("\\", "_").replace("/", "_")
    return "_" if s in (".", "..") else s


def safe_path(base: Path, *parts: str) -> Path:
    # is_relative_to, not str.startswith: a prefix check lets '../out2'
    # escape to a sibling directory that shares the base's name prefix
    # (/tmp/out -> /tmp/out2)
    out = base.joinpath(*parts).resolve()
    if not out.is_relative_to(base.resolve()):
        raise ValueError(f"unsafe path escape: {parts}")
    return out


def write_spans_to_directory(summary: SpanSummary | Report, out_dir: str | Path) -> list[str]:
    """Write the exploded per-task directory tree; returns created paths."""
    base = Path(out_dir)
    base.mkdir(parents=True, exist_ok=True)
    created: list[str] = []

    report = collect_report(summary)
    workflows = {w["run_id"]: w for w in report.workflows}

    # single run -> reference-identical layout directly at out_dir
    def run_base(run_id: str) -> Path:
        if len(workflows) == 1:
            return base
        return safe_path(base, _safe_name(run_id))

    for run_id, wf in workflows.items():
        run_dir = run_base(run_id)
        run_dir.mkdir(parents=True, exist_ok=True)
        meta = {
            "run_id": run_id,
            "duration_s": wf["duration_s"],
            "is_success": wf["is_success"],
            "attributes": wf["attributes"] or {},
        }
        p = run_dir / "run-time-metadata.json"
        p.write_text(json.dumps(meta, indent=2, default=str))
        created.append(str(p))

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
        rb = run_base(t["run_id"])
        task_dir = safe_path(rb, dir_name)
        task_dir.mkdir(parents=True, exist_ok=True)
        meta = {
            "task_id": t["task_id"],
            "span_id": t["span_id"],
            "duration_s": t["duration_s"],
            "is_success": t["is_success"],
            "n_exceptions": t["n_exceptions"],
            "attributes": t["attributes"] or {},
            "logged_values": report.task_values(t),
        }
        p = task_dir / "run-time-metadata.json"
        p.write_text(json.dumps(meta, indent=2, default=str))
        created.append(str(p))

        # artifacts live under an artifacts/ subdirectory
        # (cli_pynb_log_parser.py:76-81)
        for a in report.task_artifacts(t):
            ap = safe_path(rb, dir_name, "artifacts", _safe_artifact_name(a["name"]))
            ap.parent.mkdir(parents=True, exist_ok=True)
            ap.write_bytes(bytes(a["content"]))
            created.append(str(ap))

    return created
