"""HTTP/REST SQL endpoint — the Kyuubi REST front-end analog.

The reference serves SQL over TWO wire families per Kyuubi pod:
Thrift binary AND REST (``docs/components/kyuubi.md:11-12`` — 10010/
10099 for the USER pod, 10009/10098 for the shared SERVER pod;
``kyuubi-dbt-defaults-configmap.yaml:20-24`` binds
``kyuubi.frontend.rest.bind.port=10099``). The repo already speaks
HS2 Thrift (`hs2.py`), the Postgres wire protocol (`pgwire.py`) and
line-JSON TCP (`sqlserver.py`); THIS module closes the last client
family: plain HTTP — curl, REST BI connectors, anything that can POST
JSON.

Two surfaces on one stdlib ``ThreadingHTTPServer``:

1. **Curl-grade shortcut** (the 90% path):

       POST /sql            {"sql": "...", "limit": 1000}
       GET  /sql?q=...&limit=1000

   → the same JSON result document the line-JSON server emits
   (columns/types/rows/row_count/truncated/elapsed_ms), HTTP 200 on
   success, 400 with ``{"ok": false, "error": ...}`` on SQL or
   request errors.

2. **Kyuubi-v1-shaped session flow** (what a Kyuubi REST client
   expects, minimally):

       GET    /api/v1/ping                          → "pong"
       POST   /api/v1/sessions                      → {"identifier"}
       POST   /api/v1/sessions/{id}/operations/statement
              {"statement": "..."}                  → {"identifier"}
       GET    /api/v1/operations/{op}/rowset        → {columns, rows}
       GET    /api/v1/operations/{op}/event         → {state}
       DELETE /api/v1/sessions/{id}

   Statements execute eagerly; the operation store keeps the shaped
   result until the session is closed. Each REST session is one
   isolated session; the sessionless ``/sql`` shortcut stays on the
   shared engine (it has no session to scope state to).

Session isolation, the result cap (``limit``; ``truncated: true`` past
it, 400 for a negative one) and the per-statement job group are the
shared wire core's (``wiredoor.py``). Each HTTP request runs on its
own thread.
"""

from __future__ import annotations

import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from konohadataplatform_spark.sqlserver import error_doc, execute_sql_json
from konohadataplatform_spark.wiredoor import DEFAULT_LIMIT, WireServer, session_engine

# Oldest operation docs are evicted past this per-session cap so a
# client that never DELETEs its session cannot grow driver memory
# unboundedly (each doc holds up to `limit` rows).
MAX_OPS_PER_SESSION = 64


class RestSqlServer(WireServer):
    """Threaded HTTP SQL server over an :class:`Engine`.

    >>> srv = RestSqlServer(engine).start()      # port auto-assigned
    >>> rest_request(srv.port, "SELECT 1 AS x")["rows"]
    [[1]]
    >>> srv.stop()
    """

    server_class = ThreadingHTTPServer

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        super().__init__(engine, host, port)
        self._lock = threading.Lock()
        # sid -> {"ops": [op ids], "engine": per-session engine}
        self._sessions: dict[str, dict] = {}
        self._operations: dict[str, dict] = {}  # op id -> result doc

    # -- request handling ---------------------------------------------------
    def _dispatch(self, method: str, path: str, query: dict, body: dict
                  ) -> tuple[int, object]:
        if method == "GET" and path == "/api/v1/ping":
            return 200, "pong"
        if method == "GET" and path == "/health":
            return 200, {"ok": True, "sessions": len(self._sessions)}
        if path == "/sql":
            if method == "POST":
                sql = body.get("sql")
                limit = int(body.get("limit", DEFAULT_LIMIT))
            elif method == "GET":
                sql = (query.get("q") or [None])[0]
                limit = int((query.get("limit") or [DEFAULT_LIMIT])[0])
            else:
                return 405, {"ok": False, "error": "method not allowed"}
            if not sql:
                return 400, {"ok": False, "error": "missing sql",
                             "error_class": "KeyError"}
            doc = execute_sql_json(self.engine, sql, limit)
            return (200 if doc["ok"] else 400), doc

        parts = [p for p in path.split("/") if p]
        # /api/v1/sessions[...]
        if parts[:3] == ["api", "v1", "sessions"]:
            if method == "POST" and len(parts) == 3:
                sid = str(uuid.uuid4())
                seng = session_engine(self.engine)
                with self._lock:
                    self._sessions[sid] = {"ops": [], "engine": seng}
                return 200, {"identifier": sid}
            if len(parts) >= 4:
                sid = parts[3]
                with self._lock:
                    if sid not in self._sessions:
                        return 404, {"ok": False, "error": "no such session"}
                if method == "DELETE" and len(parts) == 4:
                    with self._lock:
                        for op in self._sessions.pop(sid)["ops"]:
                            self._operations.pop(op, None)
                    return 200, {"identifier": sid}
                if (method == "POST" and len(parts) == 6
                        and parts[4] == "operations"
                        and parts[5] == "statement"):
                    sql = body.get("statement")
                    if not sql:
                        return 400, {"ok": False, "error": "missing statement",
                                     "error_class": "KeyError"}
                    limit = int(body.get("limit", DEFAULT_LIMIT))
                    with self._lock:
                        seng = self._sessions[sid]["engine"]
                    doc = execute_sql_json(seng, sql, limit)
                    op = str(uuid.uuid4())
                    with self._lock:
                        ops = self._sessions[sid]["ops"]
                        ops.append(op)
                        self._operations[op] = doc
                        # bound driver memory for clients that never
                        # DELETE their session: keep only the newest
                        # MAX_OPS_PER_SESSION result docs per session
                        while len(ops) > MAX_OPS_PER_SESSION:
                            self._operations.pop(ops.pop(0), None)
                    return 200, {"identifier": op}
        # /api/v1/operations/{op}/...
        if parts[:3] == ["api", "v1", "operations"] and len(parts) == 5:
            with self._lock:
                doc = self._operations.get(parts[3])
            if doc is None:
                return 404, {"ok": False, "error": "no such operation"}
            if method == "GET" and parts[4] == "event":
                return 200, {
                    "state": "FINISHED" if doc["ok"] else "ERROR",
                    "error": doc.get("error"),
                }
            if method == "GET" and parts[4] == "rowset":
                if not doc["ok"]:
                    return 400, doc
                return 200, doc
        return 404, {"ok": False, "error": f"no route: {method} {path}"}

    # -- transport ----------------------------------------------------------
    def _handler(self) -> type:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet
                pass

            def _respond(self, status: int, payload: object) -> None:
                data = json.dumps(payload).encode("utf-8")
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _handle(self, method: str) -> None:
                try:
                    u = urlparse(self.path)
                    body = {}
                    n = int(self.headers.get("Content-Length") or 0)
                    if n:
                        body = json.loads(self.rfile.read(n).decode("utf-8"))
                    status, payload = outer._dispatch(
                        method, u.path, parse_qs(u.query), body
                    )
                except Exception as exc:  # noqa: BLE001 — wire boundary
                    status, payload = 400, error_doc(exc)
                self._respond(status, payload)

            def do_GET(self):
                self._handle("GET")

            def do_POST(self):
                self._handle("POST")

            def do_DELETE(self):
                self._handle("DELETE")

        return Handler


def rest_request(
    port: int,
    sql: str,
    host: str = "127.0.0.1",
    limit: int = DEFAULT_LIMIT,
    timeout: float = 120.0,
) -> dict:
    """Minimal stdlib client: POST /sql, parse the JSON document.
    Raises urllib.error.HTTPError on a 4xx (its body still carries the
    error JSON)."""
    import urllib.request

    req = urllib.request.Request(
        f"http://{host}:{port}/sql",
        data=json.dumps({"sql": sql, "limit": limit}).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))
