"""In-memory span tracing and Spark work counters for the traced run.

The benchmark wraps each call it makes into a layer's public function in
``Tracer.span``. A span is ``{id, name, layer, start, end, parent}``;
the layer is the first dotted component of the name (``plans.force.deps``
belongs to ``plans``). Spans stay in memory and are written out once, at
the end of the run.

When a ``SparkContext`` is attached, each span runs its Spark jobs under
a job group of its own, so the public ``StatusTracker`` can attribute
jobs, stages and tasks to the call that caused them; shuffle bytes come
from the Spark event log, joined on the same job ids.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Iterator

GROUP_PREFIX = "perfbench-"


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one
    branch per call."""

    def __init__(self, enabled: bool, sc: Any = None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict[str, Any]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[dict | None]:
        """Record one span, a child of this thread's enclosing span."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = {
            "id": next(self._ids),
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": stack[-1]["id"] if stack else None,
            "attrs": attrs,
            "start": time.perf_counter(),
        }
        group = self.sc is not None
        if group:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp['id']}", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if group:
                # jobs after this span belong to the enclosing span again
                outer = f"{GROUP_PREFIX}{stack[-1]['id']}" if stack else "perfbench"
                self.sc.setJobGroup(outer, outer)
            with self._lock:
                self.spans.append(sp)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer spent in its own spans and not in a child
        span (child intervals are merged before subtracting)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
        out: dict[str, float] = {}
        for sp in self.spans:
            covered = 0.0
            cur_s = cur_e = None
            for s, e in sorted(children.get(sp["id"], [])):
                s, e = max(s, sp["start"]), min(e, sp["end"])
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            dur = sp["end"] - sp["start"]
            out[sp["layer"]] = out.get(sp["layer"], 0.0) + dur - covered
        return out

    def total(self, prefix: str) -> float:
        """Summed duration of the spans whose name starts with ``prefix``."""
        return sum(sp["end"] - sp["start"] for sp in self.spans if sp["name"].startswith(prefix))

    def count(self, name: str) -> int:
        return sum(sp["name"] == name for sp in self.spans)

    def mean(self, name: str) -> float:
        """Mean duration of the spans named exactly ``name`` (0 if none)."""
        durs = [sp["end"] - sp["start"] for sp in self.spans if sp["name"] == name]
        return sum(durs) / len(durs) if durs else 0.0

    def spark_work(self, prefix: str) -> dict[str, Any]:
        """Jobs, stages and tasks run under the job groups of the spans
        named ``prefix*``, from the StatusTracker; ``job_ids`` lists the
        jobs counted."""
        st = self.sc.statusTracker()
        job_ids = [j for group in self.groups(prefix) for j in st.getJobIdsForGroup(group)]
        stages = tasks = 0
        for job_id in job_ids:
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = st.getStageInfo(stage_id)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "job_ids": job_ids}

    def groups(self, prefix: str) -> list[str]:
        return [f"{GROUP_PREFIX}{sp['id']}" for sp in self.spans if sp["name"].startswith(prefix)]

    def write(self, path: Path) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(sp, default=str) + "\n")


def shuffle_bytes_by_job(event_log_dir: Path) -> dict[int, int]:
    """Shuffle bytes written per Spark job, from the event log
    (``spark.eventLog.enabled``). Read after the session has stopped,
    when the log is complete."""
    stage_job: dict[int, int] = {}
    out: dict[int, int] = {}
    for path in sorted(p for p in event_log_dir.rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    if job is not None:
                        out[job] = out.get(job, 0) + written
    return out
