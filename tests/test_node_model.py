"""Model-based test of the node: random sequences of signed inserts,
pattern and ArrayOp reads (with and without ``limit``), path queries
whose steps are pattern lists or ArrayOp trees, ``info()`` and
``triples()`` against a model.

The model is the stored rows in insertion order plus
``perfbench/oracle.TripleOracle``, the benchmark's engine-free set model.
Every answer must equal the model's; ``limit`` must return the first
matches in insertion order (as the reference's SQLite does without ORDER
BY); a path must return each key its last step reaches once, as
``chain`` below walks it with the three-valued ``eval_op``;
``info()["triples"]`` must equal the model's size and never go down.

Insert batches plan in-batch duplicates, stored duplicates and NULL
``pred``/``obj``. A row with a NULL key field never equals a stored row,
so it is stored once per batch that carries it.

The machine runs twice: calling ``DegDB`` in-process, and with inserts,
pattern queries, ``triples()`` and ``info()`` sent to a ``DegDBServer``
over HTTP (ArrayOp and path queries have no HTTP route and stay
in-process on the same ``DegDB``).
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import RuleBasedStateMachine, initialize, invariant, rule, run_state_machine_as_test

from degdb_spark.api import DegDB
from degdb_spark.server import DegDBServer
from perfbench.oracle import TripleOracle, expected_sig

KEY = b"model-key"
SUBJS = ["s0", "s1", "s2", "s3"]
PREDS = ["p0", "p1", None]
#: objects that are also subjects, so paths have more than one hop
OBJS = ["o0", "s1", "s2", None]

key_st = st.tuples(st.sampled_from(SUBJS), st.sampled_from(PREDS), st.sampled_from(OBJS))
pattern_st = st.fixed_dictionaries(
    {},
    optional={
        "subj": st.sampled_from(SUBJS + [""]),
        "pred": st.sampled_from([p for p in PREDS if p] + [""]),
        "obj": st.sampled_from([o for o in OBJS if o] + [""]),
    },
)
limit_st = st.sampled_from([-1, 0, 1, 2, 5])


def op_st(depth: int = 2):
    base = st.fixed_dictionaries(
        {"mode": st.sampled_from(["AND", "OR"]), "triples": st.lists(pattern_st, min_size=1, max_size=3)}
    )
    if depth == 0:
        return base
    sub = op_st(depth - 1)
    return st.one_of(
        base,
        st.builds(lambda a: {"mode": "NOT", "arguments": [a]}, sub),
        st.fixed_dictionaries(
            {
                "mode": st.sampled_from(["AND", "OR"]),
                "triples": st.lists(pattern_st, max_size=2),
                "arguments": st.lists(sub, min_size=1, max_size=2),
            }
        ),
    )


def eval_pattern(pattern: dict, key: tuple) -> bool | None:
    """SQL three-valued match of one partial triple: a bound field
    compared with a NULL field is unknown (None)."""
    out: bool | None = True
    for f, v in zip(("subj", "pred", "obj"), key):
        want = pattern.get(f)
        if want:
            term = None if v is None else v == want
            out = False if term is False or out is False else (None if term is None or out is None else True)
    return out


def eval_op(op: dict, key: tuple) -> bool | None:
    """Kleene AND/OR/NOT over an ArrayOp dict."""
    parts = [eval_op(a, key) for a in op.get("arguments", [])]
    parts += [eval_pattern(t, key) for t in op.get("triples", [])]
    if op["mode"] == "NOT":
        return None if parts[0] is None else not parts[0]
    if not parts:
        return True
    if op["mode"] == "AND":
        return False if False in parts else (None if None in parts else True)
    return True if True in parts else (None if None in parts else False)


def as_op(step) -> dict:
    """A path step as an ArrayOp dict: a pattern list is OR-wrapped."""
    return step if isinstance(step, dict) else {"mode": "OR", "triples": step}


def chain(steps: list, rows: list[tuple]) -> set[tuple]:
    """Keys the last step of a path reaches: each step keeps the rows its
    op selects whose subject is a non-NULL object of the step before."""
    current = None
    for step in steps:
        matched = [k for k in rows if eval_op(as_op(step), k)]
        if current is not None:
            frontier = {k[2] for k in current if k[2] is not None}
            matched = [k for k in matched if k[0] in frontier]
        current = matched
    return set(current)


def key_of(row: dict) -> tuple:
    return (row["subj"], row.get("pred"), row.get("obj"))


def canonical(key: tuple) -> tuple:
    """Sort key of ``triples()``: lexicographic, NULLs first."""
    return tuple((v is not None, v or "") for v in key)


class NodeMachine(RuleBasedStateMachine):
    spark = None  # set by the test

    def connect(self, db: DegDB):
        """The node that inserts, pattern queries, ``triples()`` and
        ``info()`` go to."""
        return db

    @initialize()
    def start(self):
        self.db = DegDB(self.spark, signing_key=KEY)
        self.node = self.connect(self.db)
        #: stored keys in insertion order; a NULL-key row may repeat
        self.rows: list[tuple] = []
        #: the same keys as a set, for set-level answers and paths
        self.oracle = TripleOracle([])
        self.last_size = 0

    @rule(data=st.data(), n=st.integers(0, 8), explicit_null=st.booleans())
    def insert_json(self, data, n, explicit_null):
        batch: list[tuple] = []
        for _ in range(n):
            src = data.draw(st.sampled_from(["new", "in-batch", "stored"]))
            if src == "in-batch" and batch:
                batch.append(data.draw(st.sampled_from(batch)))
            elif src == "stored" and self.rows:
                batch.append(data.draw(st.sampled_from(self.rows)))
            else:
                batch.append(data.draw(key_st))
        payload = json.dumps([
            {f: v for f, v in zip(("subj", "pred", "obj"), k) if explicit_null or v is not None} for k in batch
        ])
        seen, added = set(), []
        for k in batch:
            if k not in seen and (None in k or k not in self.oracle.keys):
                added.append(k)
            seen.add(k)
        assert self.node.insert_json(payload) == len(added)
        self.rows += added
        self.oracle.add(added)

    @rule(patterns=st.lists(pattern_st, min_size=1, max_size=3), limit=limit_st)
    def query_json(self, patterns, limit):
        got = [key_of(r) for r in self.node.query_json(json.dumps(patterns), limit=limit)]
        want = [k for k in self.rows if any(eval_pattern(p, k) for p in patterns)]
        assert got == (want[:limit] if limit > 0 else want)
        if limit <= 0:
            assert set(got) == self.oracle.query(patterns)

    @rule(op=op_st(), limit=limit_st)
    def query_array_op_json(self, op, limit):
        got = [key_of(r) for r in self.db.query_array_op_json(json.dumps(op), limit=limit)]
        want = [k for k in self.rows if eval_op(op, k)]
        assert got == (want[:limit] if limit > 0 else want)

    @rule()
    def triples(self):
        dump = self.node.triples()
        assert [key_of(r) for r in dump] == sorted(self.rows, key=canonical)
        assert all(r["sig"] == expected_sig(KEY, *key_of(r)) for r in dump)

    @rule(steps=st.lists(st.one_of(st.lists(pattern_st, min_size=1, max_size=2), op_st(1)), min_size=1, max_size=3))
    def query_steps(self, steps):
        got = [key_of(r) for r in self.db.query_steps(steps)]
        assert len(got) == len(set(got))
        assert set(got) == chain(steps, self.rows)
        if all(isinstance(s, list) for s in steps):
            assert set(got) == self.oracle.chain(steps)

    @invariant()
    def info_counts_the_model(self):
        size = self.node.info()["triples"]
        assert size == len(self.rows) and size >= self.last_size
        self.last_size = size


class HttpClient:
    """A node's insert, pattern query, dump and info routes, over HTTP."""

    def __init__(self, server: DegDBServer):
        self.base = f"http://{server.host}:{server.port}/api/v1"

    def _get(self, route: str):
        with urllib.request.urlopen(self.base + route, timeout=30) as r:
            return json.loads(r.read())

    def insert_json(self, payload: str) -> int:
        """The rows added. The reply counts the triples sent, so the rows
        added are read from ``info`` before and after."""
        before = self.info()["triples"]
        req = urllib.request.Request(self.base + "/insert", data=payload.encode(), method="POST")
        with urllib.request.urlopen(req, timeout=30) as r:
            assert r.read().decode() == f"Inserted {len(json.loads(payload))} triples."
        return self.info()["triples"] - before

    def query_json(self, q: str, limit: int = -1) -> list[dict]:
        return self._get("/query?" + urllib.parse.urlencode({"q": q, "limit": limit}))

    def triples(self) -> list[dict]:
        return self._get("/triples")

    def info(self) -> dict:
        return self._get("/info")


class HttpNodeMachine(NodeMachine):
    server: DegDBServer | None = None  # set by the test

    def connect(self, db: DegDB):
        self.server.db = db
        return HttpClient(self.server)


def _run(machine, spark, max_examples: int):
    machine.spark = spark
    run_state_machine_as_test(
        machine,
        settings=settings(
            max_examples=max_examples,
            stateful_step_count=30,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        ),
    )


def test_node_matches_model(spark):
    _run(NodeMachine, spark, max_examples=100)


def test_node_matches_model_over_http(spark):
    with DegDBServer(DegDB(spark)) as server:
        HttpNodeMachine.server = server
        _run(HttpNodeMachine, spark, max_examples=40)
