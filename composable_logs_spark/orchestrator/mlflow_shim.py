"""MLFlow-protocol → span-log shim (SURVEY §2.8 D13/D14).

Reference: mlflow_server/server.py:41-236 — a local HTTP server speaking
(a subset of) the MLFlow REST protocol so that task code written against
the ``mlflow`` client logs into the span log instead of a tracking
server. Semantics preserved:

- the basic-auth username carries the owning task's traceparent
  (reference server.py:41-72): here ``{trace_id}:{parent_span_id}``
- ``log_param`` values are stringified (D14: 123 -> "123", [1,2,3] ->
  "[1, 2, 3]"; test_connection.py:93-99)
- nested runs are rejected with 501 (reference :174-180)
- metrics/params/tags become named-value spans under the task's span,
  exactly what the summarisation pipeline already reads

Implemented with flask (import-gated); werkzeug's threaded dev server is
plenty for a per-workflow sidecar. Artifact upload: a direct HTTP PUT
endpoint here, AND the reference-parity FTP artifact repository in
``ftp_artifacts.FtpArtifactServer`` (mlflow_server/server.py:259-326) so
stock ``mlflow.log_artifact`` clients with an ``ftp://`` artifact URI
work unmodified.
"""

from __future__ import annotations

import threading
import uuid
from typing import Any

from ..spanlog.schema import SPAN_ARTEFACT, SPAN_NAMED_VALUE, data_span
from ..spanlog.writer import SpanWriter


class _ShimState:
    def __init__(self, writer: SpanWriter):
        self.writer = writer
        self.runs: dict[str, dict[str, Any]] = {}  # run_id -> {trace_id, parent}
        self.lock = threading.Lock()

    def create_run(self, trace_id: str, parent_span_id: str) -> str:
        with self.lock:
            for r in self.runs.values():
                if r["trace_id"] == trace_id and r["parent"] == parent_span_id and r["open"]:
                    raise NestedRunError()
            run_id = uuid.uuid4().hex
            self.runs[run_id] = {
                "trace_id": trace_id,
                "parent": parent_span_id,
                "open": True,
            }
            return run_id

    def end_run(self, run_id: str) -> None:
        with self.lock:
            if run_id in self.runs:
                self.runs[run_id]["open"] = False

    def log(self, run_id: str, span_name: str, name: str, value: Any) -> None:
        run = self.runs[run_id]
        self.writer.write(data_span(span_name, name, value, run["trace_id"], run["parent"]))


class NestedRunError(Exception):
    pass


def make_mlflow_app(writer: SpanWriter):
    """Build the flask app (import-gated: raises ImportError without flask)."""
    from flask import Flask, request

    app = Flask("composable-logs-mlflow-shim")
    state = _ShimState(writer)
    app.config["shim_state"] = state

    def _traceparent() -> tuple[str, str]:
        # the basic-auth USERNAME is a W3C traceparent
        # ("00-{trace_id}-{span_id}-01", dashes — a colon would collide
        # with basic-auth's user:password separator), as in the reference
        # (server.py:41-72)
        auth = request.authorization
        username = auth.username if auth else None
        parts = username.split("-") if username else []
        if len(parts) != 4:
            return "0x" + "0" * 32, None  # anonymous run context
        return f"0x{parts[1]}", f"0x{parts[2]}"

    @app.post("/api/2.0/mlflow/runs/create")
    def runs_create():
        trace_id, parent = _traceparent()
        try:
            run_id = state.create_run(trace_id, parent)
        except NestedRunError:
            return {"message": "nested runs are not supported"}, 501
        return {
            "run": {
                "info": {
                    "run_id": run_id,
                    "run_uuid": run_id,
                    "status": "RUNNING",
                    "artifact_uri": f"/mlflow-artifacts/{run_id}",
                }
            }
        }

    @app.post("/api/2.0/mlflow/runs/update")
    def runs_update():
        body = request.get_json(force=True)
        state.end_run(body["run_id"])
        return {"run_info": {"run_id": body["run_id"], "status": body.get("status", "FINISHED")}}

    @app.post("/api/2.0/mlflow/runs/log-parameter")
    def log_parameter():
        body = request.get_json(force=True)
        # D14: params are STRINGIFIED
        state.log(body["run_id"], SPAN_NAMED_VALUE, f"param.{body['key']}", str(body["value"]))
        return {}

    @app.post("/api/2.0/mlflow/runs/log-metric")
    def log_metric():
        body = request.get_json(force=True)
        state.log(body["run_id"], SPAN_NAMED_VALUE, f"metric.{body['key']}", float(body["value"]))
        return {}

    @app.post("/api/2.0/mlflow/runs/set-tag")
    def set_tag():
        body = request.get_json(force=True)
        state.log(body["run_id"], SPAN_NAMED_VALUE, f"tag.{body['key']}", str(body["value"]))
        return {}

    @app.post("/api/2.0/mlflow/runs/log-batch")
    def log_batch():
        body = request.get_json(force=True)
        run_id = body["run_id"]
        for m in body.get("metrics", []):
            state.log(run_id, SPAN_NAMED_VALUE, f"metric.{m['key']}", float(m["value"]))
        for p in body.get("params", []):
            state.log(run_id, SPAN_NAMED_VALUE, f"param.{p['key']}", str(p["value"]))
        for t in body.get("tags", []):
            state.log(run_id, SPAN_NAMED_VALUE, f"tag.{t['key']}", str(t["value"]))
        return {}

    @app.put("/mlflow-artifacts/<run_id>/<path:name>")
    def put_artifact(run_id, name):
        state.log(run_id, SPAN_ARTEFACT, name, request.get_data())
        return {}, 201

    return app


class MlflowShimServer:
    """Threaded sidecar server; ``with MlflowShimServer(writer) as url:``."""

    def __init__(self, writer: SpanWriter, port: int = 0):
        from werkzeug.serving import make_server

        self.app = make_mlflow_app(writer)
        self._srv = make_server("127.0.0.1", port, self.app, threaded=True)
        self.port = self._srv.server_port
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.port}"

    def __enter__(self) -> "MlflowShimServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._srv.shutdown()
        self._thread.join(timeout=5)
