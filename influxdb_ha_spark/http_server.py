"""InfluxDB-compatible HTTP façade: /query, /write, /ping.

The reference is an HTTP proxy (service/server.go:31-35 registers exactly
these three routes); this module is the drop-in surface over `Engine`:

- GET/POST /query?q=…&db=…&epoch=…  → InfluxDB JSON results
  (one result object per semicolon-separated statement, like
  service/query_handler.go:57-66); parse/semantic errors → {"error": …}
  with 400; an execution error (e.g. KILL QUERY) → 200 with the error in
  that statement's result, and later statements are not run.
- POST /write?db=…&precision=…      → 204 on success; 400 on parse or
  partition-key failure (write_handler.go:74-78, 104-112); db param
  required (write_handler.go:40-44); gzip bodies accepted (55-63).
- GET /ping                          → 204 with X-Influxdb-Version
  (query_utils.go:73-87 sets "relay"; we advertise the engine).

stdlib http.server — the HTTP layer is deliberately thin; all semantics
live in `server.Engine`. Start with `serve(engine)` (returns the bound
port; daemon thread) — used by tests with urllib against 127.0.0.1.
"""

from __future__ import annotations

import gzip
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import base64

from .admin import ConflictError
from .influxql.clusterql import ClusterQLError
from .planner import PartitionKeyError, QueryError
from .server import Engine, WriteError, statement_privileges, write_lines

VERSION = "influxdb-ha-spark"


def _split_statements(q: str) -> list[str]:
    return [s.strip() for s in q.split(";") if s.strip()]


_BIND = re.compile(r"\$(\w+)")


def bind_params(q: str, params_json: str) -> str:
    """InfluxQL bind parameters: substitute `$name` placeholders with the
    values from the `params` JSON object (the surface client libraries
    use; the reference forwards the raw request so InfluxDB resolves them
    — drop-in parity requires resolving them here). Strings are
    single-quoted with escaping, numbers/booleans rendered as literals."""
    try:
        values = json.loads(params_json)
    except ValueError as e:
        raise QueryError(f"invalid params JSON: {e}") from e
    if not isinstance(values, dict):
        raise QueryError("params must be a JSON object")

    def render(name: str) -> str:
        if name not in values:
            raise QueryError(f"missing parameter: ${name}")
        v = values[name]
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        raise QueryError(f"unsupported parameter type for ${name}")

    return _BIND.sub(lambda m: render(m.group(1)), q)


def _execution_error(exc: BaseException) -> str:
    """One-line text for a statement whose execution failed. A job-group
    cancellation reads like InfluxDB's ErrQueryInterrupted; a failure in a
    Python worker reads as its traceback's last line (the exception)."""
    text = str(exc)
    if "cancelled" in text and "job group" in text:
        return "query interrupted"
    java = getattr(exc, "java_exception", None)
    if java is not None:
        # PySpark leaves a generic SparkException (a job aborted by a lost
        # task) unconverted; its str() opens with "An error occurred while
        # calling oNNN.collectToPython." and the cause is on the Java side
        text = java.toString()
    head, tb, rest = text.partition("Traceback (most recent call last):")
    if tb:
        frames = rest.split("\n\tat ", 1)[0]
        lines = [ln for ln in frames.splitlines() if ln.strip()]
        if lines:
            return lines[-1].strip()[:500]
    first = next((ln.strip() for ln in head.splitlines() if ln.strip()),
                 type(exc).__name__)
    return first[:500]


class _Handler(BaseHTTPRequestHandler):
    engine: Engine = None  # injected by serve()

    def log_message(self, *a):  # quiet
        pass

    def _send(self, code: int, payload: dict | None = None):
        body = json.dumps(payload).encode() if payload is not None else b""
        self.send_response(code)
        self.send_header("X-Influxdb-Version", VERSION)
        if payload is not None:
            self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def _body(self) -> str:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n)
        if self.headers.get("Content-Encoding") == "gzip":
            raw = gzip.decompress(raw)  # write_handler.go:55-63
        return raw.decode()

    def _params(self) -> dict:
        qs = parse_qs(urlparse(self.path).query)
        return {k: v[0] for k, v in qs.items()}

    def _auth_user(self, params: dict) -> str | None:
        """Authenticate and return the username, or None on failure.
        Auth is optional until any user exists (query_handler.go:90-96).
        Credentials via Authorization: Basic or u/p query params."""
        admin = self.engine.admin
        if not admin.users:
            return ""  # anonymous, everything allowed (bootstrap phase)
        user = pw = None
        hdr = self.headers.get("Authorization") or ""
        if hdr.startswith("Basic "):
            try:
                user, _, pw = base64.b64decode(hdr[6:]).decode().partition(":")
            except Exception:
                return None
        elif params.get("u"):
            user, pw = params.get("u"), params.get("p") or ""
        if user is None or not admin.authenticate(user, pw):
            return None
        return user

    def _authed(self, params: dict, database: str | None,
                privilege: str) -> bool:
        user = self._auth_user(params)
        if user is None:
            return False
        if user == "":
            return True
        return self.engine.admin.authorize(user, database or "", privilege)

    _FIRST_ADMIN = re.compile(
        r"^\s*CREATE\s+USER\s+.*WITH\s+ALL\s+PRIVILEGES", re.IGNORECASE)

    def _forbidden_stmt(self, user: str, db: str | None,
                        stmts: list[str]) -> str | None:
        """Per-statement privilege check, mirroring the reference's
        checkAccess loop (query_handler.go:98-111 + auth.go:43-53):
        admin-only for user/DDL/management statements, WRITE for
        DELETE/DROP data, READ+WRITE for SELECT INTO, READ otherwise.
        Returns the first forbidden statement, or None if all pass.

        Bootstrap exception: while no admin user exists, a CREATE USER …
        WITH ALL PRIVILEGES statement skips the checks
        (query_handler.go:100-105)."""
        admin = self.engine.admin
        if user == "":  # no users yet — auth inactive
            return None
        for stmt in stmts:
            if not admin.has_admin() and self._FIRST_ADMIN.match(stmt):
                return None  # reference breaks out of the whole loop
            for priv in statement_privileges(stmt):
                ok = (admin.is_admin(user) if priv == "admin"
                      else admin.authorize(user, db or "", priv))
                if not ok:
                    return stmt
        return None

    def _handle_query(self, params: dict, body: str):
        q = params.get("q") or ""
        if not q and body:
            q = parse_qs(body).get("q", [""])[0]
        if not q:
            self._send(400, {"error": "missing required parameter \"q\""})
            return
        if params.get("params"):
            try:
                q = bind_params(q, params["params"])
            except QueryError as e:
                self._send(400, {"error": str(e)})
                return
        db = params.get("db")
        user = self._auth_user(params)
        if user is None:
            self._send(401, {"error": "authorization failed"})
            return
        stmts = _split_statements(q)
        bad = self._forbidden_stmt(user, db, stmts)
        if bad is not None:
            # query_handler.go:107-109 → 403 with the offending statement
            self._send(403, {"error": f"forbidden statement: {bad}"})
            return
        epoch = params.get("epoch")
        chunked = (params.get("chunked") or "").lower() == "true"
        results = []
        for i, stmt in enumerate(stmts):
            try:
                r = self.engine.query(stmt, database=db, epoch=epoch)
                inner = r["results"][0]
                inner["statement_id"] = i
                results.append(inner)
            except (QueryError, PartitionKeyError, SyntaxError,
                    ClusterQLError, KeyError, ValueError) as e:
                # parse/semantic errors → 400 (routing.go:113-119; unknown
                # user/measurement surfaces as KeyError/ValueError here)
                self._send(400, {"error": str(e)})
                return
            except ConflictError as e:
                # duplicate partition key / user → 409 (admin.go:108-112)
                self._send(409, {"error": str(e)})
                return
            except PermissionError as e:
                # e.g. "first user must be an admin" → 403
                self._send(403, {"error": str(e)})
                return
            except Exception as e:  # noqa: BLE001 — answered, not dropped
                # a failed Spark execution (a KILL QUERY cancellation, a
                # lost task): InfluxDB reports execution errors inside the
                # statement's result and stops at the first one
                results.append({"statement_id": i,
                                "error": _execution_error(e)})
                break
        if chunked:
            # InfluxDB chunked transfer: newline-delimited JSON documents.
            # Each statement result is split into chunk_size-value pieces
            # with "partial": true on every chunk but the last
            # (query_utils.go:22-28 Partial field; default 10000 rows like
            # the upstream httpd service).
            from .result import chunk_result
            try:
                chunk_size = int(params.get("chunk_size") or 10_000)
            except ValueError:
                chunk_size = 10_000
            docs = [c for r in results for c in chunk_result(r, chunk_size)]
            body = "\n".join(json.dumps({"results": [c]})
                             for c in docs).encode() + b"\n"
            self.send_response(200)
            self.send_header("X-Influxdb-Version", VERSION)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        self._send(200, {"results": results})

    def _handle_write(self, params: dict):
        db = params.get("db")
        if not db:
            # write_handler.go:40-44
            self._send(400, {"error": "missing required parameter \"db\""})
            return
        if not self._authed(params, db, "WRITE"):
            self._send(401, {"error": "authorization failed"})
            return
        try:
            write_lines(self.engine, db, self._body(),
                        precision=params.get("precision", "ns"))
        except WriteError as e:
            self._send(400, {"error": str(e)})
            return
        self._send(204)

    def do_GET(self):
        path = urlparse(self.path).path
        if path == "/ping":
            self._send(204)
        elif path == "/query":
            self._handle_query(self._params(), "")
        else:
            self._send(404, {"error": "not found"})

    def do_POST(self):
        path = urlparse(self.path).path
        if path == "/query":
            self._handle_query(self._params(), self._body())
        elif path == "/write":
            self._handle_write(self._params())
        elif path == "/ping":
            self._send(204)
        else:
            self._send(404, {"error": "not found"})


def serve(engine: Engine, host: str = "127.0.0.1",
          port: int = 0) -> tuple[ThreadingHTTPServer, int]:
    """Start the façade on a daemon thread; returns (server, bound_port)."""
    handler = type("BoundHandler", (_Handler,), {"engine": engine})
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
