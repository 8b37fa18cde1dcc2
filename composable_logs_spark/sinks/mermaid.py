"""Mermaid DAG / Gantt text generation (SURVEY §2.1 S9).

Golden-parity with the reference generators (mermaid_graphs.py:49-114
dag, :117-161 gantt; cli_pynb_log_parser.py:126-146): same comment
banner, ``TASK_SPAN_ID_{span_id}`` node ids, ``<a href=...>`` task
links with ``task.*`` attribute lines, ``generate_links`` flag, gantt
sections per task with unix-epoch-second timestamps and ``dateFormat
x``. Both render one run from the collected report (``report.py``);
tasks are ordered by ``(start_time, span_id)``.
"""

from __future__ import annotations

import datetime

from ..plans.summarize import SpanSummary
from .report import Report, collect_report


def render_seconds(seconds: float) -> str:
    """'1m 20s' style rendering (reference mermaid_graphs.py:9-22)."""
    if seconds <= 60:
        return f"{round(seconds, 2)}s"
    dt = datetime.timedelta(seconds=seconds)
    return (
        (str(dt).replace(":", "h ", 1).replace(":", "m ", 1)[:-4] + "s")
        .replace("0h ", "")
        .replace("00m ", "")
    )


def _make_header(task_id: str, task_type: str) -> str:
    """'ingest (Python task)' (reference mermaid_graphs.py:40-46)."""
    return f"{task_id} ({(task_type or 'python').capitalize()} task)"


def _make_link_to_task_run(attributes: dict, task_id: str, span_id: str) -> str:
    """Reference mermaid_graphs.py:25-38: GitHub-Pages host when the
    workflow carries a repository attribute, else relative."""
    repo = (attributes or {}).get("workflow.github.repository")
    if repo and "/" in repo:
        repo_owner, repo_name = repo.split("/", 1)
        host = f"https://{repo_owner}.github.io/{repo_name}"
    else:
        host = "."
    return f"{host}/#/experiments/{task_id}/runs/{span_id}"


def make_mermaid_dag(
    summary: SpanSummary | Report, run_id: str, generate_links: bool = True
) -> str:
    """Render one run's task DAG as mermaid 'graph LR' input-file text
    (reference mermaid_graphs.py:49-114). Raises ``ValueError`` for a
    run_id the summary does not hold."""
    report = collect_report(summary)
    tasks = report.run_tasks(run_id)
    deps = report.deps_by_run.get(run_id, [])
    by_id = {t["span_id"]: t for t in tasks}
    lines = [
        "graph LR",
        "    %% Mermaid input file for drawing task dependencies ",
        "    %% See https://mermaid-js.github.io/mermaid",
        "    %%",
    ]
    for t in tasks:
        attrs = dict(t["attributes"] or {})
        desc = _make_header(t["task_id"], t["task_type"])
        if not t["is_success"]:
            desc += " ❌"
        attr_lines = sorted(
            f"{k}={v}"
            for k, v in attrs.items()
            if k.startswith("task.") and k != "task.type"
        )
        if generate_links:
            url = _make_link_to_task_run(attrs, t["task_id"], t["span_id"])
            link_html_text = f"<b>{desc} 🔗</b> <br />" + "<br />".join(attr_lines)
            label = (
                f"<a href='{url}' style='text-decoration: none; color: black;'>"
                f"{link_html_text}"
                f"</a>"
            )
        else:
            label = desc
        lines.append(f'    TASK_SPAN_ID_{t["span_id"]}["{label}"]')
    for d in deps:
        if d["from_span_id"] in by_id and d["to_span_id"] in by_id:
            lines.append(
                f'    TASK_SPAN_ID_{d["from_span_id"]} --> TASK_SPAN_ID_{d["to_span_id"]}'
            )
    return "\n".join(lines) + "\n"


def make_mermaid_gantt(summary: SpanSummary | Report, run_id: str) -> str:
    """Render one run's tasks as a mermaid gantt input file
    (reference mermaid_graphs.py:117-161): one section per task,
    unix-epoch-second timestamps with ``dateFormat x``. Raises
    ``ValueError`` for a run_id the summary does not hold."""
    tasks = collect_report(summary).run_tasks(run_id)
    lines = [
        "gantt",
        "    %% Mermaid input file for drawing Gantt chart of runlog runtimes",
        "    %% See https://mermaid-js.github.io/mermaid/#/gantt",
        "    %%",
        "    axisFormat %H:%M",
        "    %%",
        "    %% Give timestamps as unix timestamps (ms)",
        "    dateFormat x",
        "    %%",
    ]
    epoch = datetime.timezone.utc

    def _s(ts) -> int:
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=epoch)
        return int(ts.timestamp())

    for t in tasks:
        lines.append(f"    section {_make_header(t['task_id'], t['task_type'])}")
        if t["is_success"]:
            description, modifier = "OK", ""
        else:
            description, modifier = "FAILED", "crit"
        lines.append(
            ", ".join(
                [
                    f"    {render_seconds(t['duration_s'] or 0.0)} - {description} :{modifier} ",
                    f"{_s(t['start_time'])} ",
                    f"{_s(t['end_time'])} ",
                ]
            )
        )
    return "\n".join(lines) + "\n"
