"""The node workloads.

Each workload sets the node up (``setup``, repeated by the harness so the
set-up time is a median), warms up (``warmup``), then runs closed-loop
operations for the run's seconds (``run``), appending one ``Op`` per
operation with its latency and whether the oracle accepted the answer.
Oracle work is done before or after the timed call, never inside it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field
from http.client import HTTPConnection
from urllib.parse import quote

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from degdb_spark import catalog
from degdb_spark.api import DegDB
from degdb_spark.operators import bloom, sharded, traversal
from degdb_spark.operators.triplestore import TripleStore
from degdb_spark.server import DegDBServer
from degdb_spark.sources.triples import TRIPLES_SQL, triples_df

import inputs
from oracle import QueryOracle, TripleOracle, check_rows, keys_of

SIGN_KEY = b"perfbench-node-key"
#: seconds of untimed HTTP reads before the measured window
WARMUP_S = 3.0
#: untimed insert batches before the measured window
WARMUP_BATCHES = 7
#: TripleStore.insert cuts the store's lineage on every fourth insert
CUT_EVERY = 4
PATH_PREDS = ("by_customer", "in_nation", "in_region")
#: unrooted two-hop predicate chains, all non-empty on the derived graph
HOP2_CHAINS = (("by_customer", "in_nation"), ("in_nation", "in_region"), ("in_nation", "name"))
KHOP_SEEDS = 10
BLOOM_FPR = 0.01
SHARDED_SUBJECTS = 2
#: registry queries of the analytics workload, in the order they run
ANALYTICS_QUERIES = (
    "triple_predicate_cooccurrence",
    "triple_three_hop",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "graph_degrees",
    "docs_minhash_neardups",
    "events_sessionization",
    "docs_bm25_search",
    "emb_knn_topk",
    "gremlin_region_orders",
)
TRIPLE_COLS = ("subj", "pred", "obj", "sig")
def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and every
    live process below it (the JVM and Spark's Python workers, which Spark
    reuses). Each is read from the process's CPU-time clock, in
    nanoseconds; the kernel leaves steal time out of it, so the figure
    does not grow while the host runs other guests on our vCPUs."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while the table was read
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            # the process CPU-time clock of ``pid`` (clock_getcpuclockid)
            total += time.clock_gettime((~pid << 3) | 2)
        except OSError:
            pass
        todo += children.get(pid, [])
    return total


@dataclass
class Op:
    kind: str
    start: float = 0.0
    end: float = 0.0
    #: ``tree_cpu_s()`` just before ``start`` and just after ``end``
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    ok: bool = False
    traced: bool = False
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Workload:
    """Shared plumbing: the op recorder and the timed set-up steps."""

    name = ""
    #: op kind the end-to-end latency metrics describe
    primary = ""
    needs_store = True
    #: op kinds left out of the measured figures (first-run costs)
    cold_kinds: tuple[str, ...] = ()
    #: op kinds of the measured loop, which ``cpu_ms_per_op`` counts
    loop_kinds: tuple[str, ...] = ()
    #: how many of the loop's first ops ``cpu_ms_per_op`` covers (None: all)
    cpu_ops: int | None = None

    def __init__(self, seed: int, data_dir: str, work_dir: str, con):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 17])
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = None  # set by the harness for a traced run
        self.ops: list[Op] = []
        self.counters: dict[str, list] = {}
        self.triples = TripleOracle.from_duckdb(con, TRIPLES_SQL) if self.needs_store else None
        self.db = None
        #: set by the harness: returns the node's live memory, in MB by part
        self.sample_memory = None
        #: live memory taken by the workload after a fixed amount of work;
        #: left None, the harness takes it when the run ends
        self.memory: dict[str, float] | None = None

    # ------------------------------------------------------------ set-up
    def setup(self, spark) -> dict[str, float]:
        """One full set-up; returns step timings in seconds."""
        t: dict[str, float] = {}
        t0 = time.perf_counter()
        catalog.register_all(spark, self.data_dir)
        t["catalog.register_all_s"] = time.perf_counter() - t0
        if self.needs_store:
            t0 = time.perf_counter()
            db = DegDB(spark, signing_key=SIGN_KEY)
            added = db.insert(triples_df(spark))
            t["triplestore.load_s"] = time.perf_counter() - t0
            if added != len(self.triples.keys):
                raise RuntimeError(f"bulk load added {added}, oracle holds {len(self.triples.keys)}")
            self.db = db
        return t

    # ------------------------------------------------------------- ops
    @contextlib.contextmanager
    def op(self, kind: str, force_trace: bool | None = None, **info):
        """Time one operation; under tracing it is also the root span,
        named by the op's kind (and query name)."""
        rec = Op(kind, info=dict(info))
        name = ".".join(["op", kind] + ([str(info["name"])] if "name" in info else []))
        span = self.tracer.span(name, force=force_trace) if self.tracer else contextlib.nullcontext()
        with span as sp:
            rec.traced = bool(sp is not None and sp.traced)
            rec.cpu_start = tree_cpu_s()
            rec.start = time.perf_counter()
            try:
                yield rec
            finally:
                rec.end = time.perf_counter()
                rec.cpu_end = tree_cpu_s()
        self.ops.append(rec)

    def run_op(self, kind: str, fn, check, force_trace: bool | None = None, **info) -> None:
        """``fn()`` timed as one op; ``check(result)`` runs untimed after.
        An exception in either counts the op as failed."""
        result = None
        failed = False
        with self.op(kind, force_trace, **info) as rec:
            try:
                result = fn()
            except Exception as e:  # a failed op is data, not a crash
                failed = True
                rec.info["error"] = repr(e)[:300]
        if not failed:
            try:
                rec.ok = bool(check(result))
                if not rec.ok:
                    rec.info["error"] = "answer differs from the oracle"
            except Exception as e:
                rec.info["error"] = repr(e)[:300]

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def warmup(self, spark) -> float:
        """Untimed operations before the measured window, so it sees
        compiled plans and a JIT-warmed JVM as a long-lived node would;
        returns the seconds spent. None by default: analytics measures
        its first pass on purpose."""
        return 0.0

    def count(self, name: str, value) -> None:
        self.counters.setdefault(name, []).append(value)


def _collect_keys(df) -> list:
    return [r.asDict() for r in df.select(*TRIPLE_COLS).collect()]


# ------------------------------------------------------------ serve_read
class ServeRead(Workload):
    """Read-only node traffic on the bulk-loaded store, in two phases.
    First, one closed-loop HTTP client against ``DegDBServer`` sends
    Zipf-skewed single-subject lookups, three-subject OR lists and
    limited predicate patterns. Then one batch client runs one cycle of a
    rooted 3-step path, an unrooted 2-hop chain, a k-hop expansion, a
    Bloom sync round trip with a peer store and a shard-routed read of a
    32-shard layout."""

    name = "serve_read"
    primary = "read"
    loop_kinds = ("read",)
    CYCLE = ("path3", "hop2", "khop", "sync", "sharded")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        oracle = self.triples
        self.orders = sorted(k[0] for k in oracle.by_pred["by_customer"])
        self.customers = sorted(k[2] for k in oracle.by_pred["by_customer"])
        self.subjects = sorted(oracle.by_subj)
        self.zipf = inputs.ZipfSubjects(self.rng, self.subjects)
        self.pred_objs = inputs.pred_obj_pairs(oracle)
        self.batch_rng = np.random.default_rng([self.seed, 31])
        # kept across calls, so the warm-up does not replay the measured requests
        self.client_rng = np.random.default_rng([self.seed, 1000])
        self.shard_dir = os.path.join(self.work_dir, "sharded")
        self.peer_dir = os.path.join(self.work_dir, "peer")
        peer_keys, self.shared = inputs.peer_triples(np.random.default_rng([self.seed, 29]), oracle)
        self.n_peer = len(peer_keys)
        _write_triples_parquet(peer_keys, self.peer_dir)
        self.peer = None

    def setup(self, spark) -> dict[str, float]:
        t = super().setup(spark)
        t0 = time.perf_counter()
        sharded.write_sharded(self.db.store.df, self.shard_dir)
        t["sharded.write_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        peer = TripleStore(spark, path=self.peer_dir)
        n = peer.size()["triples"]
        t["peer.load_s"] = time.perf_counter() - t0
        if n != self.n_peer:
            raise RuntimeError(f"peer store holds {n} triples, expected {self.n_peer}")
        self.peer = peer
        return t

    def run(self, spark, seconds: float) -> None:
        """HTTP phase for ``seconds``, then one batch cycle: a fixed mix, so
        the op count does not jump between runs. The batch ops run cold,
        once each, so they are checked and traced but left out of
        ``cpu_ms_per_op``, which counts the HTTP reads."""
        self._serve(time.perf_counter() + seconds)
        for kind in self.CYCLE:
            getattr(self, f"_{kind}")(spark)

    def warmup(self, spark) -> float:
        """WARMUP_S of HTTP reads, ops forgotten. The batch ops get no
        warm-up: a cold cycle costs 7-12 s, more than the run budget
        allows, so the batch phase measures each kind's first run."""
        t0 = time.perf_counter()
        self._serve(t0 + WARMUP_S)
        self.ops.clear()
        self.counters.clear()
        return time.perf_counter() - t0

    def _serve(self, deadline: float) -> None:
        """One closed-loop client until ``deadline``; answers are checked
        after the server stops."""
        server = DegDBServer(self.db).start()
        results = []
        try:
            while time.perf_counter() < deadline:
                kind, patterns, limit = inputs.read_request(self.client_rng, self.zipf, self.pred_objs)
                q = json.dumps(patterns)
                path = f"/api/v1/query?q={quote(q)}&limit={limit}"
                rec = Op(kind="read", info={"shape": kind, "q": q, "limit": limit})
                rec.cpu_start = tree_cpu_s()
                rec.start = time.perf_counter()
                try:
                    conn = HTTPConnection(server.host, server.port, timeout=60)
                    try:
                        conn.request("GET", path)
                        resp = conn.getresponse()
                        body = resp.read()
                    finally:
                        conn.close()
                    rec.end = time.perf_counter()
                    rec.cpu_end = tree_cpu_s()
                    results.append((rec, resp.status, body, patterns))
                except OSError as e:
                    rec.end = time.perf_counter()
                    rec.cpu_end = tree_cpu_s()
                    rec.info["error"] = repr(e)[:300]
                    results.append((rec, None, b"", patterns))
        finally:
            server.stop()
        for rec, status, body, patterns in results:
            if status == 200:
                try:
                    rows = json.loads(body)
                    rec.ok = check_rows(rows, self.triples.query(patterns), rec.info["limit"], SIGN_KEY)
                    rec.info["rows"] = len(rows)
                    if not rec.ok:
                        rec.info["error"] = "answer differs from the oracle"
                except ValueError as e:
                    rec.info["error"] = repr(e)[:300]
            elif status is not None:
                rec.info["error"] = f"HTTP {status}: {body[:200]!r}"
            self.ops.append(rec)

    # batch-client ops, one method per kind
    def _path3(self, spark) -> None:
        root = self.orders[int(self.batch_rng.integers(0, len(self.orders)))]
        steps = [{"subj": root, "pred": PATH_PREDS[0]}, {"pred": PATH_PREDS[1]}, {"pred": PATH_PREDS[2]}]
        want = self.triples.chain(steps)
        self.run_op("path3", lambda: self.db.query_steps(steps),
                    lambda rows: check_rows(rows, want, -1, SIGN_KEY), rows=len(want))

    def _hop2(self, spark) -> None:
        steps = [{"pred": p} for p in HOP2_CHAINS[int(self.batch_rng.integers(0, len(HOP2_CHAINS)))]]
        want = self.triples.chain(steps)

        def hop2():
            with self.span("traversal.chain_steps"):
                return _collect_keys(traversal.chain_steps(self.db.store.df, steps))

        self.run_op("hop2", hop2, lambda rows: check_rows(rows, want, -1, SIGN_KEY), rows=len(want))

    def _khop(self, spark) -> None:
        seeds = [self.customers[j] for j in self.batch_rng.choice(len(self.customers), KHOP_SEEDS, replace=False)]
        want = self.triples.k_hop(seeds, 2)

        def khop():
            with self.span("traversal.k_hop"):
                return [r["node"] for r in traversal.k_hop(self.db.store.df, seeds, 2).collect()]

        self.run_op("khop", khop, lambda nodes: sorted(nodes) == sorted(want), rows=len(want))

    def _sync(self, spark) -> None:
        m_bits, k = bloom.optimal_params(self.n_peer, BLOOM_FPR)

        def sync():
            with self.span("bloom.build"):
                bf = bloom.build_bloom(self.peer.df, ["subj", "pred", "obj"], m_bits, k)
            with self.span("bloom.match"):
                return keys_of(bloom.triples_matching_bloom(self.db.store.df, bf).select("subj", "pred", "obj").collect())

        self.run_op("sync", sync, self._check_sync)

    def _check_sync(self, got: list) -> bool:
        """No false negatives, and false positives at most three times the
        filter's design rate (plus three for small counts). The measured
        share runs at 1.1-1.8% for a 1% design and is fixed by the seed,
        so a tighter check would fail some seeds for good; the share
        itself is reported as ``bloom.false_positive_ratio``."""
        got_set = set(got)
        if len(got_set) != len(got) or not self.shared <= got_set:
            return False
        fp = len(got_set - self.shared)
        non_members = len(self.triples.keys) - len(self.shared)
        expect = BLOOM_FPR * non_members
        self.count("bloom_fp", (fp, non_members))
        return fp <= 3 * expect + 3

    def _sharded(self, spark) -> None:
        subs = [self.subjects[j] for j in self.batch_rng.choice(len(self.subjects), SHARDED_SUBJECTS, replace=False)]
        want = self.triples.query([{"subj": s} for s in subs])

        def routed():
            with self.span("sharded.rooted_query"):
                return _collect_keys(sharded.rooted_query(spark, self.shard_dir, subs))

        def check(rows):
            in_memory = _collect_keys(self.db.store.query([{"subj": s} for s in subs]))
            return check_rows(rows, want, -1, SIGN_KEY) and sorted(keys_of(rows)) == sorted(keys_of(in_memory))

        self.run_op("sharded", routed, check)


# ---------------------------------------------------------------- ingest
class Ingest(Workload):
    """One API client: signed 500-triple batches with planned duplicate
    shares, each followed by a read-after-write of one new subject, and an
    ``info()`` once per lineage-cut cycle."""

    name = "ingest"
    primary = "insert"
    loop_kinds = ("insert", "read", "info")
    #: the first two measured cycles, which every run completes: later
    #: cycles cost less CPU as the JIT warms, so a run that fitted a third
    #: cycle into its window read ~20% lower
    cpu_ops = 2 * (2 * CUT_EVERY + 1)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.batches = inputs.IngestBatches(np.random.default_rng([self.seed, 23]), self.triples)

    def warmup(self, spark) -> float:
        """Seven batches: with the bulk load that is eight inserts, so two
        lineage cuts fall inside the warm-up and every measured cycle
        starts just after a cut. CPU per insert still fell by ~15% over the
        first three cycles after a one-cut warm-up, as the JIT compiled
        the insert path."""
        t0 = time.perf_counter()
        self._cycle(WARMUP_BATCHES)
        self.ops.clear()
        self.counters.clear()
        return time.perf_counter() - t0

    def run(self, spark, seconds: float) -> None:
        """Whole cut cycles until ``seconds`` have passed, so every window
        holds the same share of batches that pay for the cut; at least
        two, which ``cpu_ops`` covers. Memory is taken after the first
        cycle: how many cycles fit in the window depends on the host's
        load, and the store grows with each."""
        deadline = time.perf_counter() + seconds
        self._cycle(CUT_EVERY)
        self.memory = self.sample_memory()
        self._cycle(CUT_EVERY)
        while time.perf_counter() < deadline:
            self._cycle(CUT_EVERY)

    def _cycle(self, n_batches: int) -> None:
        db, oracle = self.db, self.triples
        for i in range(n_batches):
            payload, keys, new_subj = self.batches.next()
            want_added = len(set(keys) - oracle.keys)
            self.run_op("insert", lambda: db.insert_json(payload), lambda added: added == want_added,
                        offered=len(keys), added=want_added)
            oracle.add(keys)
            if self.tracer is not None:
                self.count("store_partitions", db.store.df.rdd.getNumPartitions())
            q = json.dumps([{"subj": new_subj}])
            want = oracle.by_subj[new_subj]
            self.run_op("read", lambda: db.query_json(q), lambda rows: check_rows(rows, want, -1, SIGN_KEY))
            if i == 0:
                total = len(oracle.keys)
                self.run_op("info", db.info, lambda info: info["triples"] == total)


def _write_triples_parquet(keys: list, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    s, p, o = zip(*keys)
    pq.write_table(pa.table({"subj": list(s), "pred": list(p), "obj": list(o)}),
                   os.path.join(out_dir, "part-0.parquet"))


# ------------------------------------------------------------- analytics
class Analytics(Workload):
    """One client running ten registry queries in a fixed order, pass
    after pass, in one session: the first pass pays compilation and cache
    fill, later passes show the steady state."""

    name = "analytics"
    primary = "query"
    needs_store = False
    cold_kinds = ("query_first",)
    loop_kinds = ("query",)

    def __init__(self, seed, data_dir, work_dir, con):
        super().__init__(seed, data_dir, work_dir, con)
        from degdb_spark.queries import registry

        reg = registry()
        self.queries = {q: reg[q].spark for q in ANALYTICS_QUERIES}
        self.expected = QueryOracle(con, {q: reg[q].oracle for q in ANALYTICS_QUERIES})

    def run(self, spark, seconds: float) -> None:
        """Passes until ``seconds`` have passed, at least two: the first pass is
        always traced in a traced run, so each query's first-run cost is
        on record."""
        deadline = time.perf_counter() + seconds
        passes = 0
        while passes < 2 or time.perf_counter() < deadline:
            first = passes == 0
            for q in ANALYTICS_QUERIES:
                fn = self.queries[q]

                def query():
                    with self.span(f"queries.{q}", first=first):
                        return fn(spark, self.data_dir).toPandas()

                self.run_op("query_first" if first else "query", query,
                            lambda pdf: self.expected.check(q, pdf),
                            force_trace=True if first else None, name=q, pass_no=passes)
            passes += 1


WORKLOADS = {w.name: w for w in (ServeRead, Ingest, Analytics)}
