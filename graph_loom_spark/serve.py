"""HTTP + WebSocket serving layer (reference V1/V2/V4:
src/api/server.rs:60-278, src/api/mod.rs:8-32).

``GET /api/repl`` upgrades to the V2 WebSocket REPL (server.rs:179-230):
banner on connect, one text message per query, pretty-JSON outcome
replies, ``error: {e}`` / ``timeout`` texts, 60 s budget, ping→pong.
The RFC 6455 framing lives in graph_loom_spark.ws (stdlib-only).

``POST /api/query`` with JSON ``{"query": str, "params": {str: str}?,
"log": bool?}`` returns the outcome DTO
``{rows: [...], affected_nodes, affected_relationships, mutated}``
(rows shaped like server.rs:69-127: node/relationship/info tagged
records). Optional ``X-API-Key`` auth (server.rs:131-139); per-request
timeout (server.rs:160). Execution errors return **400 with the error
text as the body** and timeouts 504 "query timeout", matching
server.rs handle_query; ``log`` defaults to true and routes through
``execute_and_log`` (the S11 query-log sink).

Concurrency model parity: the reference funnels every API query through
one mpsc channel onto a single engine thread (V4). Here a process-wide
lock serializes query execution against the session — Spark provides the
intra-query parallelism, the lock provides the reference's single-writer
mutation safety.

stdlib-only (ThreadingHTTPServer): no framework dependency; swap for any
WSGI server in production — the handler is ~100 lines of protocol.
"""

from __future__ import annotations

import json
import threading
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutTimeout
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from graph_loom_spark import ws as wsproto
from graph_loom_spark.interface import CypherSession

REPL_BANNER = "Graph-Loom REPL ready. Send queries as text.\n"


class QueryServer:
    """Wraps a CypherSession behind the reference's HTTP contract."""

    def __init__(
        self,
        session: CypherSession,
        api_key: str | None = None,
        timeout_s: float = 30.0,
        ws_timeout_s: float = 60.0,
        log_dir: str = "assets/logs",
    ):
        self.session = session
        self.api_key = api_key
        self.timeout_s = timeout_s
        self.ws_timeout_s = ws_timeout_s  # server.rs:208 — WS gets 60 s
        self.log_dir = log_dir
        self._lock = threading.Lock()  # V4 single-writer broker
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._dirty = False  # unsaved mutations since the last autosave
        self._autosave_stop: threading.Event | None = None

    def _submit(self, query: str, params: dict[str, str], log: bool):
        def run():
            with self._lock:
                if log:
                    outcome = self.session.execute_and_log(
                        query, params, log_dir=self.log_dir
                    )
                else:
                    outcome = self.session.execute(query, params)
                if getattr(outcome, "mutated", False):
                    self._dirty = True
                return outcome

        return self._pool.submit(run)

    # ----------------------------------------------------------- autosave
    def start_autosave(self, path: str, interval_s: float = 5.0) -> threading.Thread:
        """Background autosave (reference main.rs:248-265: the headless
        server snapshots the graph every 5 s when dirty): a daemon
        thread that, each tick, writes a versioned snapshot via
        ``PropertyGraph.save(path, versioned=True)`` IF a mutating query
        ran since the last save — idle sessions write nothing. The save
        runs under the single-writer lock, so it never races a mutation;
        a failed save keeps the dirty flag so the next tick retries."""
        if self._autosave_stop is not None:
            raise RuntimeError("autosave already running")
        stop = threading.Event()
        self._autosave_stop = stop

        def loop():
            while not stop.wait(interval_s):
                if not self._dirty:
                    continue
                try:
                    with self._lock:
                        self._dirty = False
                        self.session.graph.save(path, versioned=True)
                except Exception:
                    self._dirty = True  # retry on the next tick

        t = threading.Thread(target=loop, daemon=True, name="gls-autosave")
        t.start()
        return t

    def stop_autosave(self) -> None:
        if self._autosave_stop is not None:
            self._autosave_stop.set()
            self._autosave_stop = None

    # ------------------------------------------------------------- execute
    def handle_query(self, payload: dict) -> tuple[int, dict | str]:
        """Returns (status, body); body is a dict (JSON) or str (plain text
        — the reference's error bodies are text: server.rs
        ``HttpResponse::BadRequest().body(e)``)."""
        query = payload.get("query")
        if not isinstance(query, str) or not query.strip():
            return 400, "missing query"
        params = payload.get("params") or {}
        if not isinstance(params, dict):
            return 400, "params must be an object"
        params = {str(k): str(v) for k, v in params.items()}
        log = payload.get("log")
        log = True if log is None else bool(log)  # reference defaults log=true

        fut = self._submit(query, params, log)
        try:
            outcome = fut.result(timeout=self.timeout_s)
        except FutTimeout:
            return 504, "query timeout"
        except Exception as e:  # server.rs: 400 + error text for exec failures
            return 400, str(e)
        return 200, outcome.to_dict()

    def repl_reply(self, text: str) -> str | None:
        """One WS REPL turn (server.rs ReplWs::handle): trimmed text in,
        reply text out — pretty JSON DTO on success, ``error: {e}`` on
        execution failure, ``timeout`` after 60 s; empty input → no
        reply (None). Always logged (reference sends log=true)."""
        q = text.strip()
        if not q:
            return None
        fut = self._submit(q, {}, log=True)
        try:
            outcome = fut.result(timeout=self.ws_timeout_s)
        except FutTimeout:
            return "timeout"
        except Exception as e:
            return f"error: {e}"
        # serde_json::to_string_pretty — 2-space indent, same separators
        return json.dumps(outcome.to_dict(), indent=2)

    # --------------------------------------------------------------- serve
    def make_handler(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # required for WS upgrade
            # _reply writes the headers and the body separately; with Nagle
            # on, delayed ACK holds each keep-alive reply back ~40 ms
            disable_nagle_algorithm = True

            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                """V2 WebSocket REPL: GET /api/repl upgrades to a
                line-per-query WS session (server.rs:179-230)."""
                if self.path != "/api/repl":
                    self._reply(404, "not found")
                    return
                if server.api_key is not None:
                    if self.headers.get("X-API-Key") != server.api_key:
                        self._reply(401, "unauthorized")
                        return
                key = self.headers.get("Sec-WebSocket-Key")
                if self.headers.get("Upgrade", "").lower() != "websocket" or not key:
                    self._reply(400, "expected websocket upgrade")
                    return
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", wsproto.accept_key(key))
                self.end_headers()
                self.wfile.flush()
                conn = self.connection
                conn.settimeout(None)  # REPL connections idle between queries

                def send(op: int, payload: bytes) -> None:
                    conn.sendall(wsproto.encode_frame(op, payload))

                send(wsproto.OP_TEXT, REPL_BANNER.encode())
                try:
                    while True:
                        opcode, payload = wsproto.read_message(self.rfile)
                        if opcode == wsproto.OP_CLOSE:
                            send(wsproto.OP_CLOSE, payload[:2])
                            break
                        if opcode == wsproto.OP_PING:
                            send(wsproto.OP_PONG, payload)
                            continue
                        if opcode != wsproto.OP_TEXT:
                            continue  # binary ignored, like the reference
                        reply = server.repl_reply(payload.decode("utf-8", "replace"))
                        if reply is not None:
                            send(wsproto.OP_TEXT, reply.encode())
                except (ConnectionError, OSError):
                    pass  # client went away mid-session
                self.close_connection = True

            def _reply(self, code: int, body: dict | str) -> None:
                if isinstance(body, str):  # reference error bodies are text
                    data = body.encode()
                    ctype = "text/plain; charset=utf-8"
                else:
                    data = json.dumps(body).encode()
                    ctype = "application/json"
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):
                if self.path != "/api/query":
                    self._reply(404, "not found")
                    return
                if server.api_key is not None:
                    if self.headers.get("X-API-Key") != server.api_key:
                        self._reply(401, "unauthorized")
                        return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    payload = json.loads(self.rfile.read(n) or b"{}")
                except (ValueError, json.JSONDecodeError):
                    self._reply(400, "invalid JSON")
                    return
                code, body = server.handle_query(payload)
                self._reply(code, body)

        return Handler

    def serve(self, host: str = "127.0.0.1", port: int = 8080) -> ThreadingHTTPServer:
        """Start serving in a daemon thread; returns the server (call
        ``.shutdown()`` to stop)."""
        httpd = ThreadingHTTPServer((host, port), self.make_handler())
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        return httpd
