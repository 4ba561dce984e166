"""Intermediate-result pinning and lineage cuts.

Several query paths materialize a small intermediate frame that more
than one downstream consumer reads (DSIR bucket counts, SemDeDup
assignments, verified near-dup pairs) so Catalyst doesn't plan the
producing aggregation — and its corpus scan — once per consumer.
Locally the cheapest pin is ``localCheckpoint()``; on a real cluster
executor-LOCAL checkpoints die with a lost executor, which turns a
recoverable task failure into a job failure. So the flavor follows the
master (SCALE.md "Pinning intermediates"): on a single-JVM ``local[*]``
master, where executor loss is process death anyway, both helpers take
an executor-local checkpoint; on any other master ``pin()`` persists
with replication (MEMORY_AND_DISK_2) and ``lineage_cut()`` writes a
reliable ``checkpoint()`` to the cluster checkpoint dir. Every flavor
gives bit-identical results: a pin only cuts lineage or dedups
computation.

SCOPE: pin() is for one-shot multi-consumer DETERMINISTIC
intermediates ONLY. Everything else goes through ``lineage_cut()`` —
a TRUE plan cut — because ``persist`` caches data but KEEPS the
logical plan, which is wrong in two cases:

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
AST and fails on any other call site, so the master-derived rule
governs every pin in every query path.
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


def _ring_add(out: DataFrame) -> None:
    """Register a persisted frame; unpersist the oldest beyond the ring."""
    _prune_ring()
    _PERSIST_RING.append(out)
    while len(_PERSIST_RING) > _PERSIST_RING_MAX:
        try:
            _PERSIST_RING.popleft().unpersist(blocking=False)
        except Exception:
            pass  # session of an old entry may be gone


def _master(df: DataFrame) -> str:
    try:
        return df.sparkSession.conf.get("spark.master", "") or ""
    except Exception:
        return ""


def _single_jvm(df: DataFrame) -> bool:
    """True on a single-JVM ``local``/``local[*]`` master, where an
    executor-local checkpoint is safe: losing the executor is losing the
    process. ``local-cluster[...]`` (Spark's multi-JVM pseudo-cluster)
    runs REAL separate executor JVMs, so it counts as a cluster."""
    m = _master(df)
    return m.startswith("local") and not m.startswith("local-cluster")


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` for multi-consumer reuse: an executor-local
    checkpoint on a single-JVM master, replicated persist on any other,
    so a single lost executor doesn't force a recompute. ``eager``
    forces computation now."""
    if _single_jvm(df):
        return df.localCheckpoint(eager=eager)
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
    if eager:
        out.count()
    _ring_add(out)
    return out


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
    Registered in the same eviction ring as pin()'s persist flavor so
    long-lived sessions don't accrete cache entries."""
    out = df.persist()
    if eager:
        out.count()
    _ring_add(out)
    return out


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """TRUE logical-plan cut for iterative state (supersteps, BFS
    frontiers, shrinking survivor sets). Unlike pin(), ``persist`` is
    NOT an option here — it keeps the logical plan, so an N-superstep
    loop would still build an exponentially nested plan. On a
    single-JVM master the cut is an executor-local checkpoint; on a
    real cluster, where that would turn one lost executor into a failed
    job, it is a reliable ``checkpoint()``, and without a checkpoint dir
    it fails loudly with the fix rather than degrade to the unsafe
    flavor. Both flavors are bit-identical in results."""
    if _single_jvm(df):
        return df.localCheckpoint(eager=eager)
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "lineage_cut on a cluster master needs "
            "spark.sparkContext.setCheckpointDir(<cluster path>)"
        )
    return df.checkpoint(eager=eager)
