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
    # bad query JSON → 400 (http.go:101-105)
    code, body = _get(server, "/api/v1/query?q=%7Bnot")
    assert code == 400
    # array element that is not an object → 400, not a 500
    code, body = _get(server, "/api/v1/query?" + urllib.parse.urlencode({"q": "[1]"}))
    assert code == 400
    # non-integer limit → 400, not a 500
    qs = urllib.parse.urlencode({"q": '[{"subj": "a"}]', "limit": "abc"})
    code, body = _get(server, "/api/v1/query?" + qs)
    assert code == 400
    # unknown route → 404
    code, body = _get(server, "/api/v1/nope")
    assert code == 404


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
