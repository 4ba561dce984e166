"""Keyspace algebra — the reference's circular-uint64 shard-range
calculus, and the shards of the sharded layout an arc touches.

Semantics are an exact port of /root/reference/protocol/keyspace.go
(14-117), pinned by the full keyspace_test.go:10-318 vector table in
tests/test_keyspace.py, including the reference's own documented
quirks: Union of disjoint spaces is None (keyspace.go:22 "They must
overlap otherwise nil"), and a double-wrap Intersection returns the
single "sane default" range (keyspace.go:80-83 TODO).

A keyspace is a half-open arc [start, end) on the circle of uint64s;
end < start means it wraps through 2^64. end == start-1 is the full
circle ("maxed"); end == start is empty-ish (magnitude 0).

``keyspace_shards_range(ks, n_shards)`` names the shards an arc
touches when shard = the top log2(n) bits of the hash, as in the sharded
layout (operators/sharded.py): each shard owns a contiguous arc, so a
keyspace-scoped scan reads only the shards whose arcs meet the query's,
the way degdb contacts only the peers owning the arc.
"""

from __future__ import annotations

from dataclasses import dataclass

_MASK = (1 << 64) - 1


def _u64(x: int) -> int:
    return x & _MASK


@dataclass(frozen=True)
class Keyspace:
    """Half-open wraparound arc [start, end) over uint64."""

    start: int
    end: int

    def __post_init__(self):
        object.__setattr__(self, "start", _u64(self.start))
        object.__setattr__(self, "end", _u64(self.end))

    # keyspace.go:4-13
    def includes(self, hash_: int) -> bool:
        a, s, e = _u64(hash_), self.start, self.end
        return (s <= a < e) or (a < e < s) or (e < s <= a)

    # keyspace.go:16-21
    def mag(self) -> int:
        return _u64(self.end - self.start)

    # keyspace.go:105-107
    def maxed(self) -> bool:
        return self.end == _u64(self.start - 1)

    # keyspace.go:23-58 (nil-handling lives in the module functions)
    def union(self, a: "Keyspace | None") -> "Keyspace | None":
        return union(self, a)

    # keyspace.go:61-103
    def intersection(self, a: "Keyspace | None") -> "Keyspace | None":
        return intersection(self, a)

    # keyspace.go:110-117
    def complement(self) -> "Keyspace | None":
        return complement(self)


def _touch(k: Keyspace, a: Keyspace) -> tuple[bool, bool, bool, bool]:
    """(aSI, aEI, kSI, kEI) — endpoint inclusion with the closed-edge
    adjacency the reference applies (keyspace.go:30-33, 69-72)."""
    a_si = k.includes(a.start) or k.end == a.start
    a_ei = k.includes(a.end) or k.start == a.end
    k_si = a.includes(k.start) or a.end == k.start
    k_ei = a.includes(k.end) or a.start == k.end
    return a_si, a_ei, k_si, k_ei


def union(k: Keyspace | None, a: Keyspace | None) -> Keyspace | None:
    if a is None and k is None:
        return None
    if a is None:
        return Keyspace(k.start, k.end)
    if k is None:
        return Keyspace(a.start, a.end)
    a_si, a_ei, k_si, k_ei = _touch(k, a)
    if a_si and a_ei and k_si and k_ei:  # complete keyspace
        return Keyspace(k.start, _u64(k.start - 1))
    if a_si and a_ei:  # k encompasses a
        return Keyspace(k.start, k.end)
    if k_si and k_ei:  # a encompasses k
        return Keyspace(a.start, a.end)
    if a_si:
        return Keyspace(k.start, a.end)
    if a_ei:
        return Keyspace(a.start, k.end)
    return None  # disjoint — per the reference contract


def intersection(k: Keyspace | None, a: Keyspace | None) -> Keyspace | None:
    if a is None or k is None:
        return None
    a_si, a_ei, k_si, k_ei = _touch(k, a)
    if k.maxed() and a.maxed():
        return Keyspace(k.start, k.end)
    if a_si and a_ei and k_si and k_ei:  # double overlap: sane default
        return Keyspace(k.start, a.end)
    if a_si and a_ei:  # k encompasses a
        return Keyspace(a.start, a.end)
    if k_si and k_ei:  # a encompasses k
        return Keyspace(k.start, k.end)
    if a_si:
        return Keyspace(a.start, k.end)
    if a_ei:
        return Keyspace(k.start, a.end)
    return None


def complement(k: Keyspace | None) -> Keyspace | None:
    if k is None:
        return Keyspace(1, 0)  # the full circle
    if k.maxed():
        return None
    return Keyspace(k.end, k.start)


# ------------------------------------------------------------ shard pruning

def keyspace_shards_range(ks: Keyspace | None, n_shards: int) -> list[int] | None:
    """Shard ids a keyspace arc touches when shard = the top log2(n)
    hash bits (operators/sharded.py): a contiguous arc maps to a
    contiguous (possibly wrapping) run of shard ids, so pruning is
    proportional to arc size — contacting only the peers whose
    keyspaces intersect the query's arc. None → all.
    """
    if n_shards & (n_shards - 1):
        raise ValueError("shard arcs require a power-of-two n_shards")
    if ks is None:
        return []
    if ks.maxed():
        return None
    if ks.mag() == 0:
        return []
    shift = 64 - (n_shards.bit_length() - 1)
    lo = ks.start >> shift
    hi = _u64(ks.end - 1) >> shift
    if ks.start < ks.end:
        ids = list(range(lo, hi + 1))
    else:  # wraps through 0; it may start and end in one shard
        ids = sorted({*range(lo, n_shards), *(range(hi + 1) if ks.end else ())})
    return ids if len(ids) < n_shards else None
