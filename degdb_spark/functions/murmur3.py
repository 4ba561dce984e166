"""MurmurHash3 x64_128 — byte parity with the reference's shard hash.

degdb routes triples by ``murmur3.Sum64([]byte(subj))``
(/root/reference/core/http.go:70, spaolacci/murmur3's Sum64 = h1 of the
x64_128 variant, seed 0). Spark has no 64-bit murmur3 built-in (F.hash
is the 32-bit variant, its 64-bit hash another family), so this is a
pure-Python implementation, run in-process. It is the sharded layout's
one shard hash: ``operators/sharded.shard_of`` takes its top five bits,
and ``operators/sharded.keyspace_query`` tests it against a keyspace arc.

Known-answer vectors (tests/test_sharded_parity.py) pin the algorithm
to the canonical x64_128 reference values.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """(h1, h2) of MurmurHash3 x64_128, both unsigned 64-bit."""
    h1 = h2 = seed & _MASK
    length = len(data)
    n_blocks = length // 16

    for i in range(n_blocks):
        o = i * 16
        k1 = int.from_bytes(data[o : o + 8], "little")
        k2 = int.from_bytes(data[o + 8 : o + 16], "little")
        k1 = (k1 * _C1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK
        h1 ^= k1
        h1 = _rotl(h1, 27)
        h1 = (h1 + h2) & _MASK
        h1 = (h1 * 5 + 0x52DCE729) & _MASK
        k2 = (k2 * _C2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK
        h2 ^= k2
        h2 = _rotl(h2, 31)
        h2 = (h2 + h1) & _MASK
        h2 = (h2 * 5 + 0x38495AB5) & _MASK

    tail = data[n_blocks * 16 :]
    tl = len(tail)
    if tl > 8:
        k2 = int.from_bytes(tail[8:], "little")
        k2 = (k2 * _C2) & _MASK
        k2 = _rotl(k2, 33)
        k2 = (k2 * _C1) & _MASK
        h2 ^= k2
    if tl > 0:
        k1 = int.from_bytes(tail[: min(tl, 8)], "little")
        k1 = (k1 * _C1) & _MASK
        k1 = _rotl(k1, 31)
        k1 = (k1 * _C2) & _MASK
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    h1 = _fmix(h1)
    h2 = _fmix(h2)
    h1 = (h1 + h2) & _MASK
    h2 = (h2 + h1) & _MASK
    return h1, h2


def murmur3_64(data: bytes, seed: int = 0) -> int:
    """Go murmur3.Sum64 parity: h1 of x64_128, unsigned."""
    return murmur3_x64_128(data, seed)[0]

