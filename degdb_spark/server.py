"""HTTP shim over DegDB — the reference's wire surface, served for real.

Mirrors /root/reference/core/http.go:29-35 route-for-route so a degdb
user's first touch (`curl localhost:PORT/api/v1/...`) works unchanged:

    POST /api/v1/insert   JSON triple array  (http.go:40-59)
    GET  /api/v1/query?q= JSON pattern array (http.go:94-120; query
                          .Parse at query/query.go:16-22 is the same
                          JSON-unmarshal our parse_query_json does)
    GET  /api/v1/triples  full dump          (http.go:122-130)
    GET  /api/v1/info     node info          (http.go:140-143)
    GET  /api/v1/peers    peer dump          (http.go:132-138; a Spark
                          deployment has no gossip ring → [])
    GET  /api/v1/myip     requester address  (http.go:145-152)
    GET  /static/...      browser UI         (http.go:22-27; clean-room
                          vanilla-JS pages in degdb_spark/static/ with
                          the same behavior as the reference's
                          triples/insert/keyspace pages)

Deliberately stdlib-only (ThreadingHTTPServer): the shim is an edge
adapter — every request body is parsed on the HTTP thread and handed to
the same DegDB methods the Python API uses, with one lock serializing
every store access (Spark DataFrame lineage swaps aren't atomic). The
store lives in this process's memory (operators/triplestore.py), so
inserts do not survive a restart and replicas cannot share it.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from degdb_spark.api import DegDB

_STATIC_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "static")
#: explicit whitelist — no directory traversal surface
_STATIC_PAGES = {"triples.html", "insert.html", "keyspace.html"}


class DegDBServer:
    """Serve a DegDB instance over HTTP; port=0 picks a free port."""

    def __init__(self, db: DegDB, host: str = "127.0.0.1", port: int = 0):
        self.db = db
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet test output
                pass

            def _send(self, code: int, body: str, ctype: str = "application/json"):
                data = body.encode()
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):
                url = urlparse(self.path)
                try:
                    if url.path == "/api/v1/info":
                        with outer._lock:
                            self._send(200, json.dumps(outer.db.info(), sort_keys=True))
                    elif url.path == "/api/v1/triples":
                        with outer._lock:
                            self._send(200, outer.db.to_json(outer.db.triples()))
                    elif url.path == "/api/v1/query":
                        params = parse_qs(url.query)
                        q = params.get("q", [""])[0]
                        try:
                            limit = int(params.get("limit", ["-1"])[0])
                            with outer._lock:
                                rows = outer.db.query_json(q, limit=limit)
                        except (ValueError, KeyError) as e:
                            self._send(400, str(e), "text/plain")
                            return
                        self._send(200, outer.db.to_json(rows))
                    elif url.path == "/api/v1/peers":
                        # single-node Spark deployment: no gossip ring
                        self._send(200, "[]")
                    elif url.path == "/api/v1/myip":
                        self._send(200, self.client_address[0], "text/plain")
                    elif url.path.startswith("/static/") or url.path == "/static":
                        name = url.path.removeprefix("/static").lstrip("/")
                        if name in ("", "index.html"):
                            name = "triples.html"  # ring default, like a file index
                        if name not in _STATIC_PAGES:
                            self._send(404, "not found", "text/plain")
                            return
                        with open(os.path.join(_STATIC_DIR, name)) as f:
                            self._send(200, f.read(), "text/html; charset=utf-8")
                    elif url.path == "/api/v1/insert":
                        self._send(400, "endpoint needs POST", "text/plain")
                    else:
                        self._send(404, "not found", "text/plain")
                except Exception as e:  # mirror http.go's 500-on-error
                    self._send(500, str(e), "text/plain")

            def do_POST(self):
                url = urlparse(self.path)
                if url.path != "/api/v1/insert":
                    if url.path in (
                        "/api/v1/info",
                        "/api/v1/query",
                        "/api/v1/triples",
                        "/api/v1/peers",
                        "/api/v1/myip",
                    ):
                        self._send(400, "endpoint needs GET", "text/plain")
                    else:
                        self._send(404, "not found", "text/plain")
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = self.rfile.read(n).decode()
                    try:
                        payload = json.loads(body)
                    except json.JSONDecodeError as e:
                        self._send(500, str(e), "text/plain")
                        return
                    with outer._lock:
                        outer.db.insert_json(body)
                    # parity with http.go:58 — reports payload size
                    self._send(
                        200, f"Inserted {len(payload)} triples.", "text/plain"
                    )
                except Exception as e:
                    self._send(500, str(e), "text/plain")

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host = host
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "DegDBServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="degdb-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self) -> "DegDBServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
