"""End-to-end HTTP shim test — mirrors /root/reference/core/http_test.go:
insert the 4-triple Obama fixture over POST, read it back via query,
triples, info, peers, myip."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from degdb_spark.api import DegDB
from degdb_spark.server import DegDBServer

# the http_test.go:108-131 fixture
FIXTURE = [
    {"subj": "/m/02mjmr", "pred": "/type/object/name", "obj": "Barack Obama"},
    {"subj": "/m/02mjmr", "pred": "/type/object/type", "obj": "/people/person"},
    {"subj": "/m/0hume", "pred": "/type/object/name", "obj": "Hume"},
    {"subj": "/m/0hume", "pred": "/type/object/type", "obj": "/organization/team"},
]


@pytest.fixture(scope="module")
def server(spark):
    with DegDBServer(DegDB(spark)) as srv:
        yield srv


def _get(srv, path: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(f"http://{srv.host}:{srv.port}{path}") as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def _post(srv, path: str, body: str) -> tuple[int, str]:
    req = urllib.request.Request(
        f"http://{srv.host}:{srv.port}{path}", data=body.encode(), method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_stop_returns_promptly():
    """``stop()`` returns within a short poll of the serve loop, not the
    0.5 s default ``serve_forever`` would wait for."""
    import statistics
    import time

    took = []
    for _ in range(3):
        srv = DegDBServer(DegDB(None)).start()
        t0 = time.perf_counter()
        srv.stop()
        took.append(time.perf_counter() - t0)
    assert statistics.median(took) < 0.25, took


def test_insert_then_read_back(server):
    code, body = _post(server, "/api/v1/insert", json.dumps(FIXTURE))
    assert code == 200 and body == "Inserted 4 triples."

    # rooted query (http_test.go TestHTTPQuery shape)
    code, body = _get(server, "/api/v1/query?q=" + urllib.parse.quote('[{"subj": "/m/02mjmr"}]'))
    assert code == 200
    rows = json.loads(body)
    assert {(r["pred"], r["obj"]) for r in rows} == {
        ("/type/object/name", "Barack Obama"),
        ("/type/object/type", "/people/person"),
    }

    # full dump in canonical order
    code, body = _get(server, "/api/v1/triples")
    assert code == 200
    dump = json.loads(body)
    assert [(r["subj"], r["pred"]) for r in dump] == sorted(
        (t["subj"], t["pred"]) for t in FIXTURE
    )

    # idempotent re-insert: set semantics, count unchanged
    code, body = _post(server, "/api/v1/insert", json.dumps(FIXTURE))
    assert code == 200
    code, body = _get(server, "/api/v1/info")
    assert code == 200 and json.loads(body)["triples"] == 4

    # a bare object is one triple; the reply counts triples, not its keys
    one = {"subj": "/m/0bare", "pred": "/type/object/name", "obj": "Bare"}
    code, body = _post(server, "/api/v1/insert", json.dumps(one))
    assert code == 200 and body == "Inserted 1 triples."
    code, body = _get(server, "/api/v1/info")
    assert code == 200 and json.loads(body)["triples"] == 5


def test_info_peers_myip(server):
    code, body = _get(server, "/api/v1/info")
    assert code == 200 and "triples" in json.loads(body)
    code, body = _get(server, "/api/v1/peers")
    assert code == 200 and json.loads(body) == []
    code, body = _get(server, "/api/v1/myip")
    assert code == 200 and body == "127.0.0.1"


def test_error_paths(server):
    # GET on insert → 400 needs POST (http.go:42-45)
    code, body = _get(server, "/api/v1/insert")
    assert code == 404 or code == 400
    # bad JSON body → 500 (http.go:48-51)
    code, body = _post(server, "/api/v1/insert", "{not json")
    assert code == 500
    # a JSON string holding JSON is not rows: rejected, nothing stored
    before = json.loads(_get(server, "/api/v1/info")[1])["triples"]
    code, body = _post(server, "/api/v1/insert", json.dumps(json.dumps([{"subj": "/m/x"}])))
    assert code == 500
    assert json.loads(_get(server, "/api/v1/info")[1])["triples"] == before
    # bad query JSON → 400 (http.go:101-105)
    code, body = _get(server, "/api/v1/query?q=%7Bnot")
    assert code == 400
    # array element that is not an object → 400, not a 500
    code, body = _get(server, "/api/v1/query?" + urllib.parse.urlencode({"q": "[1]"}))
    assert code == 400
    # non-string field value → 400, on both pattern executors
    code, body = _get(server, "/api/v1/query?" + urllib.parse.urlencode({"q": '[{"subj": 5}]'}))
    assert code == 400
    # non-integer limit → 400, not a 500
    qs = urllib.parse.urlencode({"q": '[{"subj": "a"}]', "limit": "abc"})
    code, body = _get(server, "/api/v1/query?" + qs)
    assert code == 400
    # unknown route → 404
    code, body = _get(server, "/api/v1/nope")
    assert code == 404


def _status_line(sock) -> str:
    """The reply's status line, or "" if the server closed first."""
    reply = b""
    while b"\r\n" not in reply:
        chunk = sock.recv(4096)  # socket.timeout if the server goes silent
        if not chunk:
            break
        reply += chunk
    return reply.split(b"\r\n", 1)[0].decode()


def _raw_post(srv, content_length: str, body: bytes, half_close: bool = False, timeout: float = 3) -> str:
    """POST over a raw socket that stays open for writing (unless
    ``half_close``), so a server that reads to EOF never replies; returns
    the status line."""
    import socket

    with socket.create_connection((srv.host, srv.port), timeout=timeout) as sock:
        head = (
            "POST /api/v1/insert HTTP/1.1\r\n"
            f"Host: {srv.host}\r\nContent-Length: {content_length}\r\n\r\n"
        )
        sock.sendall(head.encode() + body)
        if half_close:
            sock.shutdown(socket.SHUT_WR)
        return _status_line(sock)


def _triples_stored(srv) -> int:
    return json.loads(_get(srv, "/api/v1/info")[1])["triples"]


def test_insert_rejects_bad_content_length(server):
    """A negative or non-integer Content-Length gets a 400 before the
    body is read, and nothing is stored."""
    body = json.dumps([{"subj": "/m/0len", "pred": "/p", "obj": "x"}]).encode()
    before = _triples_stored(server)
    for bad in ("-1", "abc", "1_0", ""):
        assert _raw_post(server, bad, body).split()[1] == "400", bad
    assert _triples_stored(server) == before
    assert _raw_post(server, str(len(body)), body).split()[1] == "200"


def test_insert_rejects_short_body(server):
    """A body shorter than its Content-Length, cut short by a client that
    half-closes, gets a 400 within the socket timeout and is never
    parsed: ``[]`` would otherwise insert as an empty batch."""
    from degdb_spark.server import _TIMEOUT_S

    before = _triples_stored(server)
    assert _raw_post(server, "100", b"[]", half_close=True, timeout=_TIMEOUT_S + 2).split()[1] == "400"
    assert _triples_stored(server) == before
    code, _ = _post(server, "/api/v1/insert", json.dumps([{"subj": "/m/0short", "pred": "/p", "obj": "x"}]))
    assert code == 200 and _triples_stored(server) == before + 1


def test_stalled_body_times_out(server):
    """A client that stalls mid-body gets a 408 or a closed connection
    within the socket timeout, and a valid insert sent meanwhile
    succeeds; the stalled rows are never stored."""
    import socket
    import time

    from degdb_spark.server import _TIMEOUT_S

    before = _triples_stored(server)
    with socket.create_connection((server.host, server.port), timeout=_TIMEOUT_S + 2) as sock:
        head = f"POST /api/v1/insert HTTP/1.1\r\nHost: {server.host}\r\nContent-Length: 100\r\n\r\n"
        sock.sendall(head.encode() + b'[{"subj": "/m/0stall"')
        t0 = time.perf_counter()
        code, _ = _post(server, "/api/v1/insert", json.dumps([{"subj": "/m/0meanwhile", "pred": "/p", "obj": "x"}]))
        assert code == 200
        status = _status_line(sock)
        assert status == "" or status.split()[1] == "408", status
        assert time.perf_counter() - t0 < _TIMEOUT_S + 2
    assert _triples_stored(server) == before + 1


def test_static_pages_served(server):
    """The browser UI (clean-room twin of the reference's static/) is
    served under /static/ with the JSON API as its backend."""
    for page, marker in [
        ("triples.html", "/api/v1/query"),
        ("insert.html", "/api/v1/insert"),
        ("keyspace.html", "/api/v1/peers"),
    ]:
        code, body = _get(server, f"/static/{page}")
        assert code == 200, page
        assert marker in body, page
    # index default → the triple browser
    code, body = _get(server, "/static/")
    assert code == 200 and "/api/v1/query" in body
    # whitelist: no traversal, no surprise files
    for bad in ("/static/../server.py", "/static/nope.html", "/static/%2e%2e/api.py"):
        code, _ = _get(server, bad)
        assert code == 404, bad
