"""Seeded workload inputs, derived from the oracle's view of the graph.

Everything the engine is sent — which subjects a client reads, the
insert batches with their planned duplicate shares, path roots, k-hop
seeds, the peer store's content — comes from a ``numpy`` generator
seeded by the benchmark's ``--seed`` and from the DuckDB-derived graph,
never from the engine's own answers.
"""

from __future__ import annotations

import json

import numpy as np

from oracle import Key, TripleOracle

#: serve_read request mix: single-subject lookups, three-subject OR
#: lists, predicate+object patterns under a limit.
READ_MIX = (("subject", 0.85), ("or3", 0.10), ("pred_limit", 0.05))
PRED_LIMIT = 10
ZIPF_S = 1.1


class ZipfSubjects:
    """Subjects drawn Zipf(s) by a seeded rank order (rank 1 is hottest)."""

    def __init__(self, rng: np.random.Generator, subjects: list[str], s: float = ZIPF_S):
        self.subjects = [subjects[i] for i in rng.permutation(len(subjects))]
        w = 1.0 / np.arange(1, len(subjects) + 1) ** s
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, rng: np.random.Generator) -> str:
        i = int(np.searchsorted(self.cdf, rng.random(), side="right"))
        return self.subjects[min(i, len(self.subjects) - 1)]


def read_request(rng: np.random.Generator, zipf: ZipfSubjects, pred_objs: list[tuple[str, str]]):
    """One serve_read request: (kind, patterns, limit)."""
    u = rng.random()
    if u < READ_MIX[0][1]:
        return "subject", [{"subj": zipf.draw(rng)}], -1
    if u < READ_MIX[0][1] + READ_MIX[1][1]:
        return "or3", [{"subj": zipf.draw(rng)} for _ in range(3)], -1
    p, o = pred_objs[int(rng.integers(0, len(pred_objs)))]
    return "pred_limit", [{"pred": p, "obj": o}], PRED_LIMIT


def pred_obj_pairs(oracle: TripleOracle) -> list[tuple[str, str]]:
    """Predicate+object patterns with at least one match (fan-in edges)."""
    pairs = {(k[1], k[2]) for p in ("in_nation", "in_region") for k in oracle.by_pred[p]}
    return sorted(pairs)


class IngestBatches:
    """Signed-insert batches of ``size`` triples: ``stored_share`` already
    in the store, ``repeat_share`` repeated inside the batch, the rest new
    orders (three triples each) hung off existing customers."""

    def __init__(self, rng, oracle: TripleOracle, size=500, stored_share=0.20, repeat_share=0.05):
        self.rng = rng
        self.oracle = oracle
        self.n_stored = int(size * stored_share)
        self.n_repeat = int(size * repeat_share)
        self.n_fresh = size - self.n_stored - self.n_repeat
        self.customers = sorted(k[2] for k in oracle.by_pred["by_customer"])
        self.stored = sorted(oracle.keys)
        self.next_order = 1 + max(int(k[0].split("/")[1]) for k in oracle.by_pred["by_customer"])

    def next(self) -> tuple[str, list[Key], str]:
        """(JSON payload, its keys, one new subject to read back)."""
        rng = self.rng
        fresh: list[Key] = []
        while len(fresh) < self.n_fresh:
            subj = f"order/{self.next_order}"
            self.next_order += 1
            cust = self.customers[int(rng.integers(0, len(self.customers)))]
            fresh += [
                (subj, "by_customer", cust),
                (subj, "status", "OPF"[int(rng.integers(0, 3))]),
                (subj, "priority", str(int(rng.integers(1, 6)))),
            ]
        fresh = fresh[: self.n_fresh]
        stored = [self.stored[i] for i in rng.choice(len(self.stored), self.n_stored, replace=False)]
        repeats = [fresh[i] for i in rng.integers(0, len(fresh), self.n_repeat)]
        batch = fresh + stored + repeats
        batch = [batch[i] for i in rng.permutation(len(batch))]
        payload = json.dumps([{"subj": s, "pred": p, "obj": o} for s, p, o in batch])
        self.stored += fresh
        return payload, batch, fresh[0][0]


def peer_triples(rng, oracle: TripleOracle, drop_share=0.10, n_foreign=5000) -> tuple[list[Key], set[Key]]:
    """A peer's store: the graph minus a seeded ``drop_share`` sample, plus
    ``n_foreign`` triples the node does not hold. Returns (peer keys,
    keys the peer shares with the node)."""
    keys = sorted(oracle.keys)
    keep = rng.random(len(keys)) >= drop_share
    shared = [k for k, kept in zip(keys, keep) if kept]
    foreign = [(f"peer/{i}", "seen", f"customer/{int(rng.integers(0, 10**6))}") for i in range(n_foreign)]
    return shared + foreign, set(shared)
