"""HTTP control plane (T1): the reference's task-lifecycle routes
served over stdlib ``http.server`` — no framework dependency.

Route parity with ``/root/reference/internal/scheduler/api.go:13-40``
(gin):

- ``POST /v1/post_task``          create a task (post_task.go:14)
- ``GET  /v1/task``               list tasks (post_task.go:88)
- ``POST /v1/stop_task``          body {task_id, stop_type}: ``stop``
  | ``recovery_v1`` (resume saved position) | ``recovery_v2`` (jump
  to latest) (update_task.go:19-96)
- ``POST /v1/update_task``        filter update: restart from the
  task's checkpoint (update_task.go:150-197)
- ``POST /v1/delete_task/{id}``   delete (update_task.go:98-127)
- ``POST /v1/restoration_task/{id}`` attempt repair: cancel the
  running query and relaunch from its saved position
  (update_task.go:129-148 — the reference cancels and lets boot
  recovery relaunch; here the relaunch is immediate)
- ``GET  /metrics``               Prometheus text exposition
  (api.go:32, prometheus.go:8-16)

Responses use the reference's ``StandardReturn`` envelope
(``pkg/req_resp.go:6-10``): ``{"error_code": int, "message": str,
"data": ...}``, 400 on parameter errors, 200 on success.

Request-body field names follow ``pkg.Task`` / ``pkg.TaskUpdate``
(``pkg/req_resp.go:12-60``): ``task_id``, ``database`` (list),
``tables``, ``exclude_table``; sink selection maps the reference's
``kafka_conf``/``nsq_conf``/... blocks onto ``sink_kind`` +
``sink_options`` (SinkConfig).

A single lock serializes handler access to the TaskManager: the
manager mutates Spark StreamingQuery state and is not thread-safe,
mirroring the reference's ``s.mu`` around ``taskMap``.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from galaxy_spark.control.tasks import TaskManager, TaskSpec

_PARAMETER_ERROR = {"error_code": 400, "message": "parameter error"}


def _spec_from_body(body: dict) -> TaskSpec:
    """pkg.Task JSON -> TaskSpec. ``LegalVerification`` parity: a
    missing/empty task_id is a 400 (``req_resp.go:19-21``); empty
    filter lists mean match-all, same as the reference's maps."""
    task_id = body.get("task_id") or ""
    if not task_id:
        raise ValueError("task is null")
    return TaskSpec(
        task_id=task_id,
        databases=tuple(body.get("database") or ()),
        tables=tuple(body.get("tables") or ()),
        exclude_tables=tuple(body.get("exclude_table") or ()),
        columns=tuple(body.get("columns") or ()),
        sink_kind=body.get("sink_kind", "memory"),
        sink_options=dict(body.get("sink_options") or {}),
        task_kind=body.get("task_kind", "cdc"),
        index_options=dict(body.get("index_options") or {}),
    )


class ControlPlane:
    """Thin HTTP shim over TaskManager + MetricsListener."""

    def __init__(self, manager: TaskManager, metrics=None,
                 host: str = "127.0.0.1", port: int = 0):
        self.manager = manager
        self.metrics = metrics
        self._lock = threading.Lock()
        plane = self

        class Handler(BaseHTTPRequestHandler):
            # silence per-request stderr lines in tests
            def log_message(self, fmt, *args):  # noqa: D102
                pass

            def _send(self, code: int, payload, content_type="application/json"):
                raw = (payload if isinstance(payload, (bytes, str))
                       else json.dumps(payload))
                if isinstance(raw, str):
                    raw = raw.encode()
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(raw)))
                self.end_headers()
                self.wfile.write(raw)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                if n == 0:
                    return {}
                return json.loads(self.rfile.read(n))

            def do_GET(self):  # noqa: N802
                if self.path == "/v1/task":
                    with plane._lock:
                        status = plane.manager.status()
                    self._send(200, {"error_code": 0, "message": "",
                                     "data": {"total": len(status),
                                              "task": status}})
                elif self.path == "/metrics":
                    text = (plane.metrics.render_prometheus()
                            if plane.metrics is not None
                            else "# TYPE galaxy_up gauge\ngalaxy_up 1\n")
                    self._send(200, text, content_type="text/plain; version=0.0.4")
                else:
                    self._send(404, {"error_code": 404, "message": "not found"})

            def do_POST(self):  # noqa: N802
                try:
                    self._route_post()
                except (ValueError, KeyError, json.JSONDecodeError) as exc:
                    self._send(400, {"error_code": 400, "message": str(exc)})
                except Exception as exc:  # mirror gin's 500 on sink errors
                    self._send(500, {"error_code": 500, "message": str(exc)})

            def _route_post(self):
                parts = [p for p in self.path.split("/") if p]
                if parts[:2] == ["v1", "post_task"] and len(parts) == 2:
                    spec = _spec_from_body(self._body())
                    with plane._lock:
                        plane.manager.create_task(spec)
                    self._send(200, {"error_code": 0,
                                     "message": f"CREATE TASK SUCCESS: {spec.task_id}"})
                elif parts[:2] == ["v1", "stop_task"] and len(parts) == 2:
                    body = self._body()
                    task_id = body.get("task_id") or ""
                    stop_type = body.get("stop_type") or "stop"
                    with plane._lock:
                        if task_id not in plane.manager.tasks:
                            self._send(400, _PARAMETER_ERROR)
                            return
                        if stop_type == "stop":
                            plane.manager.stop_task(task_id)
                        elif stop_type == "recovery_v1":
                            plane.manager.recover_v1(task_id)
                        elif stop_type == "recovery_v2":
                            plane.manager.recover_v2(task_id)
                        else:
                            self._send(400, _PARAMETER_ERROR)
                            return
                    self._send(200, {"error_code": 0,
                                     "message": f"STOP TASK SUCCESS: {task_id}"})
                elif parts[:2] == ["v1", "update_task"] and len(parts) == 2:
                    body = self._body()
                    task_id = body.get("task_id") or ""
                    with plane._lock:
                        if task_id not in plane.manager.tasks:
                            self._send(400, _PARAMETER_ERROR)
                            return
                        plane.manager.update_filters(
                            task_id,
                            databases=body.get("database"),
                            tables=body.get("tables"),
                            exclude_tables=body.get("exclude_table"))
                    self._send(200, {"error_code": 0, "message": "Update Success"})
                elif parts[:2] == ["v1", "delete_task"] and len(parts) == 3:
                    task_id = parts[2]
                    with plane._lock:
                        if task_id not in plane.manager.tasks:
                            self._send(400, _PARAMETER_ERROR)
                            return
                        plane.manager.delete_task(task_id)
                    self._send(200, {"error_code": 0,
                                     "message": f"DEL TASK SUCCESS: {task_id}"})
                elif parts[:2] == ["v1", "restoration_task"] and len(parts) == 3:
                    task_id = parts[2]
                    with plane._lock:
                        if task_id not in plane.manager.tasks:
                            self._send(400, _PARAMETER_ERROR)
                            return
                        # repair = cancel + relaunch from saved position
                        if task_id in plane.manager.queries:
                            q = plane.manager.queries.pop(task_id)
                            q.stop()
                        plane.manager.recover_v1(task_id)
                    self._send(200, {"error_code": 0,
                                     "message": f"RESTORATION TASK SUCCESS: {task_id}"})
                else:
                    self._send(404, {"error_code": 404, "message": "not found"})

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    def start(self) -> "ControlPlane":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
