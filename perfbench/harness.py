"""One benchmark run in one fresh process (started by ``run.py``).

Generates the seeded inputs and computes the oracles (on a thread, while
the JVM starts), sets the node up ``SETUP_REPS`` times, warms up, runs
the workload for ``--seconds``, checks every answer and prints two JSON
lines: a detail record (environment, per-kind latencies with tail
percentiles and sample counts, set-up and phase times, and with
``--trace 1`` a per-span profile) and, last, the result line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import workloads  # noqa: E402
from oracle import duck_connect  # noqa: E402
from tracer import Tracer  # noqa: E402

#: table scale factor (150 000·SF customers, 1 500 000·SF orders)
SF = 0.01
#: set-ups per run; setup_s reports session start plus their median
SETUP_REPS = 2
#: tail_ms is this percentile, the same on every run
TAIL_PCT = 90
#: collections, half a second apart, before live memory is read
MEMORY_ROUNDS = 4


# ---------------------------------------------------------------- stats
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> float:
    """The TAIL_PCT-th percentile, interpolated between samples. A fixed
    percentile, not "the highest with ten samples beyond it": a window
    holds 8-70 samples of the primary kind, and a percentile that moves
    with the sample count jumps between runs."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[TAIL_PCT - 1])


# ----------------------------------------------------------- environment
def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def live_memory(spark) -> dict[str, float]:
    """This process's peak RSS and the JVM's heap and non-heap in use
    after a full collection, in MB; ``memory_mb`` is their sum. Steady
    from run to run, unlike the JVM's RSS, which follows when the
    collector happened to run."""
    import gc

    lang = spark._jvm.java.lang
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark's cleaner frees a dead DataFrame's cached blocks only after a
    # collection has found it dead, and asynchronously; one round left up
    # to 65 MB of them alive in some runs, so a fixed number of rounds runs
    for _ in range(MEMORY_ROUNDS):
        gc.collect()
        lang.System.gc()
        time.sleep(0.5)
    return {"python_peak_rss_mb": _hwm_mb("self"),
            "jvm_heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20}


def peak_rss_mb(spark) -> float:
    """Peak RSS of this process plus the JVM, kept for the record."""
    return _hwm_mb("self") + _hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())


def environment(spark) -> dict:
    import pyspark

    jvm = spark._jvm.java.lang
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "sf": SF,
    }


# ------------------------------------------------------------- tracing
def install_wrappers(tracer: Tracer) -> None:
    """Wrap the package's public callables at the names its own modules
    call them by (``from x import y`` binds a second name per module)."""
    from degdb_spark import api
    from degdb_spark.operators import triplestore

    rows = lambda a, k, r: {"rows": len(r)}  # noqa: E731
    tracer.wrap(api.DegDB, "query_json", "api.query_json", lambda a, k, r: {"q": a[1], "rows": len(r)})
    tracer.wrap(api.DegDB, "insert_json", "api.insert_json")
    tracer.wrap(api.DegDB, "query_steps", "api.query_steps", rows)
    tracer.wrap(api.DegDB, "info", "api.info")
    tracer.wrap(api.DegDB, "_dump", "api.dump", rows)
    tracer.wrap(api, "triples_from_json", "sources.triples_from_json")
    tracer.wrap(api, "sign_triples", "signing.sign_triples")
    tracer.wrap(api, "parse_query_json", "pattern.parse")
    tracer.wrap(triplestore, "compile_array_op", "pattern.compile")
    tracer.wrap(triplestore.TripleStore, "query", "triplestore.query")
    tracer.wrap(triplestore.TripleStore, "insert", "triplestore.insert", lambda a, k, r: {"added": r})


# ------------------------------------------------------------- metrics
def busy_seconds(ops) -> float:
    """Length of the union of the ops' intervals: for one client the sum
    of its latencies, for several the time at least one was in flight."""
    total, cur_start, cur_end = 0.0, None, None
    for o in sorted(ops, key=lambda o: o.start):
        if cur_end is None or o.start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = o.start, o.end
        else:
            cur_end = max(cur_end, o.end)
    return total + ((cur_end - cur_start) if cur_end is not None else 0.0)


def cpu_ms_per_op(ops) -> float:
    """Each op kind's median CPU per op, weighted by the kind's share of
    the ops: the mean cost of an op of the mix, with each kind's cost
    taken as a median so that a JIT or GC burst landing in a few ops does
    not move it. One client only: with several in flight, an op's CPU
    window would hold the others' work too."""
    kinds = by_kind(ops).values()
    return sum(len(v) * median([1000.0 * (o.cpu_end - o.cpu_start) for o in v]) for v in kinds) / max(1, len(ops))


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def by_kind(ops) -> dict[str, list]:
    out: dict[str, list] = {}
    for o in ops:
        out.setdefault(o.kind, []).append(o)
    return out


def end_to_end(wl, setup_s: float, memory_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics (same names on every workload) and the
    wall-clock figures for the detail line.

    ``cpu_ms_per_op`` covers the workload's measured loop (serve_read:
    HTTP reads; ingest: inserts, reads and ``info()``), so a dearer
    secondary kind in the loop shows there in proportion to its share of
    the ops. ``p50_ms`` and ``tail_ms`` describe the primary op kind
    (serve_read: HTTP reads; ingest: insert batches) and ``ops_per_s``
    counts the loop's ops per busy second; these wall-clock figures
    follow the host's load (see the README), so they are reported in the
    detail line only."""
    timed = [o for o in wl.ops if o.kind not in wl.cold_kinds]
    kinds = {}
    for kind, ops in by_kind(timed).items():
        lat = [o.ms for o in ops]
        t = tail(lat)
        kinds[kind] = {"p50_ms": median(lat), "tail_ms": t, "tail_percentile": TAIL_PCT,
                       "samples": len(lat), "beyond_tail": sum(1 for x in lat if x > t)}
    busy = busy_seconds(timed)
    primary = kinds.get(wl.primary, {"p50_ms": 0.0, "tail_ms": 0.0})
    loop = [o for o in timed if o.kind in wl.loop_kinds]
    metrics = {
        "setup_s": (setup_s, "s"),
        "memory_mb": (memory_mb, "MB"),
        "cpu_ms_per_op": (cpu_ms_per_op(loop[:wl.cpu_ops]), "ms"),
    }
    named = {"kinds": kinds, "busy_s": busy, "p50_ms": primary["p50_ms"], "tail_ms": primary["tail_ms"],
             "ops_per_s": len(loop) / busy_seconds(loop) if loop else 0.0}
    inserts = [o for o in wl.ops if o.kind == "insert" and o.ok]
    if inserts:
        named["insert_triples_per_s"] = sum(o.info["added"] for o in inserts) / busy
    if "sync" in kinds:
        named["sync_s"] = kinds["sync"]["p50_ms"] / 1000.0
    if wl.name == "analytics":
        passes: dict[int, float] = {}
        for o in wl.ops:
            passes[o.info["pass_no"]] = passes.get(o.info["pass_no"], 0.0) + o.end - o.start
        named["analytics_first_pass_s"] = passes.pop(0, 0.0)
        named["analytics_repeat_pass_s"] = median(list(passes.values()))
    return metrics, named


#: per-layer time metric -> span name; the value is the median inclusive
#: duration per call (the spans file also carries self times)
LAYER_SPANS = {
    "api.query_json_ms": "api.query_json",
    "api.dump_ms": "api.dump",
    "api.insert_json_ms": "api.insert_json",
    "api.query_steps_ms": "api.query_steps",
    "sources.triples_from_json_ms": "sources.triples_from_json",
    "signing.sign_triples_ms": "signing.sign_triples",
    "pattern.parse_ms": "pattern.parse",
    "pattern.compile_ms": "pattern.compile",
    "triplestore.query_ms": "triplestore.query",
    "triplestore.insert_ms": "triplestore.insert",
    "traversal.chain_steps_ms": "traversal.chain_steps",
    "traversal.k_hop_ms": "traversal.k_hop",
    "bloom.build_ms": "bloom.build",
    "bloom.match_ms": "bloom.match",
    "sharded.rooted_query_ms": "sharded.rooted_query",
}
#: serve_read's traced run also runs two analytics passes afterwards, so
#: the registry queries, which no listed workload times, are traced
QUERY_PROBE_WORKLOAD = "serve_read"
SETUP_LAYERS = ("session.get_spark_s", "catalog.register_all_s", "triplestore.load_s", "sharded.write_s")


def per_layer_names() -> list[str]:
    names = ["server.overhead_ms", *LAYER_SPANS, "api.rows_returned", "signing.rows_signed",
             "triplestore.spark_jobs_per_query", "triplestore.spark_jobs_per_insert",
             "triplestore.insert_added_ratio", "triplestore.store_partitions",
             "traversal.result_rows", "traversal.spark_jobs_per_path",
             "bloom.false_positive_ratio", "sharded.spark_jobs_per_query",
             *SETUP_LAYERS, "setup.first_rep_s", "trace.overhead_pct"]
    for q in workloads.ANALYTICS_QUERIES:
        names += [f"queries.{q}.first_s", f"queries.{q}.repeat_s", f"queries.{q}.spark_jobs"]
    return names


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def per_layer(wl, tracer: Tracer, setup_reps: list[dict], get_spark_s: float) -> tuple[dict, dict]:
    # only spans under a workload op (an op root, or the server-side call
    # an HTTP read caused); the oracle's untimed checks also call the API
    op_ids = {s.op for s in tracer.spans
              if s.parent is None and (s.name.startswith("op.") or s.name == "api.query_json")}
    spans = [s for s in tracer.spans if s.traced and s.op in op_ids]
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    ms = lambda name: median([s.duration * 1000.0 for s in by_name.get(name, [])])  # noqa: E731
    jobs = lambda name: median([s.jobs for s in by_name.get(name, [])])  # noqa: E731
    out = {m: ms(n) for m, n in LAYER_SPANS.items()}
    out["api.rows_returned"] = median([s.attrs["rows"] for s in by_name.get("api.dump", [])])
    inserts = [o for o in wl.ops if o.kind == "insert"]
    out["signing.rows_signed"] = median([o.info["offered"] for o in inserts if o.traced])
    out["triplestore.spark_jobs_per_query"] = jobs("api.query_json")
    out["triplestore.spark_jobs_per_insert"] = jobs("api.insert_json")
    offered = sum(o.info["offered"] for o in inserts)
    out["triplestore.insert_added_ratio"] = sum(o.info["added"] for o in inserts) / offered if offered else 0.0
    parts = wl.counters.get("store_partitions", [])
    out["triplestore.store_partitions"] = float(parts[min(3, len(parts) - 1)]) if parts else 0.0
    path_kinds = ("path3", "hop2", "khop")
    out["traversal.result_rows"] = median([o.info["rows"] for o in wl.ops if o.kind in path_kinds])
    out["traversal.spark_jobs_per_path"] = median([s.jobs for k in path_kinds for s in by_name.get(f"op.{k}", [])])
    fps = wl.counters.get("bloom_fp", [])
    out["bloom.false_positive_ratio"] = (sum(f for f, _ in fps) / sum(n for _, n in fps)) if fps else 0.0
    out["sharded.spark_jobs_per_query"] = jobs("sharded.rooted_query")
    out["session.get_spark_s"] = get_spark_s
    for name in SETUP_LAYERS[1:]:
        out[name] = median([r[name] for r in setup_reps if name in r])
    out["setup.first_rep_s"] = sum(setup_reps[0].values())
    out["server.overhead_ms"] = _server_overhead(wl, tracer)
    ratios = []
    for ops in by_kind(o for o in wl.ops if o.kind not in wl.cold_kinds).values():
        traced = [o.ms for o in ops if o.traced]
        untraced = [o.ms for o in ops if not o.traced]
        if traced and untraced:
            ratios.append(median(traced) / median(untraced))
    out["trace.overhead_pct"] = (geomean(ratios) - 1.0) * 100.0 if ratios else 0.0
    for q in workloads.ANALYTICS_QUERIES:
        qs = by_name.get(f"queries.{q}", [])
        first = [s for s in qs if s.attrs.get("first")]
        out[f"queries.{q}.first_s"] = first[0].duration if first else 0.0
        out[f"queries.{q}.repeat_s"] = median([s.duration for s in qs if not s.attrs.get("first")])
        out[f"queries.{q}.spark_jobs"] = float(first[0].jobs) if first else 0.0
    profile = {
        name: {"calls": len(v), "ms_p50": ms(name),
               "self_ms_p50": median([s.self_time * 1000.0 for s in v]),
               "jobs": sum(s.jobs for s in v if s.parent is None)}
        for name, v in sorted(by_name.items())
    }
    return out, profile


def _server_overhead(wl, tracer: Tracer) -> float:
    """serve_read: client latency minus the server-side ``DegDB.query_json``
    call it caused, matched by query text and time window. Also marks each
    client op traced or not by that server call's sampling decision."""
    if wl.name != "serve_read":
        return 0.0
    calls = sorted((s for s in tracer.spans if s.name == "api.query_json" and s.parent is None),
                   key=lambda s: s.start)
    used: set[int] = set()
    overhead = []
    for o in wl.ops:
        for s in calls:
            if s.id in used or s.start < o.start or s.end > o.end or s.attrs.get("q") != o.info["q"]:
                continue
            used.add(s.id)
            o.traced = s.traced
            if s.traced:
                overhead.append(o.ms - s.duration * 1000.0)
            break
    return median(overhead)


# ----------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--spans-out", default=None)
    args = ap.parse_args()

    phases = {"start": time.perf_counter()}
    data_dir = os.path.join(args.workdir, "data")
    wl_cls = workloads.WORKLOADS[args.workload]
    probe_cls = workloads.Analytics if args.trace and args.workload == QUERY_PROBE_WORKLOAD else None
    prepared: dict = {}

    def prepare() -> None:
        """Inputs and oracles; runs while the JVM starts."""
        try:
            datagen.write_tables(args.seed, SF, data_dir)
            con = duck_connect(data_dir, datagen.TABLES)
            try:
                prepared["wl"] = wl_cls(args.seed, data_dir, args.workdir, con)
                if probe_cls is not None:
                    prepared["probe"] = probe_cls(args.seed, data_dir, args.workdir, con)
            finally:
                con.close()
        except BaseException as e:  # re-raised on the main thread
            prepared["error"] = e

    prep = threading.Thread(target=prepare, name="prepare")
    prep.start()

    from degdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.workdir, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true "
            f"-Djava.io.tmpdir={os.environ.get('TMPDIR', args.workdir)}",
        },
    )
    get_spark_s = time.perf_counter() - t0
    phases["session"] = time.perf_counter()
    try:
        prep.join()
        if "error" in prepared:
            raise prepared["error"]
        phases["inputs"] = time.perf_counter()
        wl, probe = prepared["wl"], prepared.get("probe")
        reps = [wl.setup(spark) for _ in range(SETUP_REPS)]
        phases["setup"] = time.perf_counter()
        setup_s = get_spark_s + median([sum(r.values()) for r in reps])
        wl.sample_memory = lambda: live_memory(spark)
        warmup_s = wl.warmup(spark)
        phases["warmup"] = time.perf_counter()
        tracer = None
        if args.trace:
            tracer = Tracer(spark, seed=args.seed)
            wl.tracer = tracer
            install_wrappers(tracer)
            tracer.enabled = True
        t_run = time.perf_counter()
        wl.run(spark, args.seconds)
        window_s = time.perf_counter() - t_run
        if probe is not None:
            probe.tracer = tracer
            probe.setup(spark)
            probe.run(spark, 0.0)
            wl.ops += probe.ops
        if tracer is not None:
            tracer.enabled = False
            tracer.unwrap()
        memory = wl.memory if wl.memory is not None else live_memory(spark)
        memory_mb = sum(memory.values())
        peak_mb = peak_rss_mb(spark)
        env = environment(spark)
        phases["run"] = time.perf_counter()
    finally:
        spark.stop()
    phases["stop"] = time.perf_counter()

    attempted = len(wl.ops)
    failed = sum(1 for o in wl.ops if not o.ok)
    e2e, named = end_to_end(wl, setup_s, memory_mb)
    named["peak_rss_mb"] = peak_mb
    named["memory_parts"] = memory
    latency = {k: [round(o.ms, 1) for o in v] for k, v in by_kind(wl.ops).items()}
    cpu = {k: [round(1000.0 * (o.cpu_end - o.cpu_start), 1) for o in v] for k, v in by_kind(wl.ops).items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "window_s": window_s, "error_rate": failed / attempted if attempted else 1.0,
        "named": named, "counters": wl.counters, "setup_reps": reps, "warmup_s": warmup_s, "latency_ms": latency, "cpu_ms": cpu,
        "errors": [f"{o.kind}: {o.info['error']}" for o in wl.ops if "error" in o.info][:5],
        "phases": {k: round(v - phases["start"], 3) for k, v in phases.items()},
    }
    if args.trace:
        layers, detail["profile"] = per_layer(wl, tracer, reps, get_spark_s)
        metrics = {n: {"value": float(layers[n]), "unit": _unit(n)} for n in per_layer_names()}
        if args.spans_out:
            tracer.write_jsonl(args.spans_out)
    else:
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": attempted > 0 and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
