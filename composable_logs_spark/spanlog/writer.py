"""Append-only span-log writer (JSON-lines).

The reference relies on Ray's tracing startup hook to land spans as JSONL
under /tmp/spans (reference: conftest.py:12-20, spans read back at
opentelemetry_helpers.py:499-500). Our orchestrator writes the same shape
directly: one JSON object per line, one file per ``SpanWriter``,
append-only — exactly the layout Structured Streaming's file source tails
incrementally. ``run_dag`` appends each task's spans in one
``write_many`` call, so the file is opened once per task, not per span.

At scale the destination would be an object-store prefix (or a Delta
table); the writer only assumes "append a line to a log file", which maps
to both.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from pathlib import Path
from typing import Any


class SpanWriter:
    """Thread-safe JSONL appender; one file per writer instance."""

    def __init__(self, log_dir: str | Path):
        self.log_dir = Path(log_dir)
        self.log_dir.mkdir(parents=True, exist_ok=True)
        self._path = self.log_dir / f"spans-{os.getpid()}-{uuid.uuid4().hex[:8]}.jsonl"
        self._lock = threading.Lock()

    @property
    def path(self) -> Path:
        return self._path

    def write(self, span: dict[str, Any]) -> None:
        self.write_many([span])

    def write_many(self, spans: list[dict[str, Any]]) -> None:
        lines = "".join(
            json.dumps(s, separators=(",", ":"), default=str) + "\n" for s in spans
        )
        with self._lock:
            with open(self._path, "a", encoding="utf-8") as f:
                f.write(lines)
