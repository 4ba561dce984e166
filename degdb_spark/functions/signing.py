"""Write-path integrity: triple signing + author ids.

Capability parity with /root/reference/crypto/crypto.go:62-91 and
crypto/fingerprint.go:10-17: each inserted triple gets an ``author`` id
derived from the signing key and a ``sig`` over a fingerprint of the
canonical triple bytes. The reference uses ECDSA-P256 over a SHA-1
fingerprint; signatures are non-deterministic per signing, so its own
tests strip them before comparison (core/query_test.go:64-72) — ours do
the same.

Implementation: one per-row signer (``signer``), run in-process over an
Arrow table by ``sign_triples``; no Spark job signs. A caller with a
DataFrame materialises it first (``DegDB.insert``, the
``triple_signature_parity`` registry query). The signer is HMAC-SHA256
(same shape as the reference's: keyed, verifiable, per-key author id);
`cryptography`, which ECDSA-P256 would need, is not a dependency.
"""

from __future__ import annotations

import hashlib
import hmac
from typing import Callable

import pyarrow as pa

from degdb_spark.schemas import ARROW_SCHEMA, conform_triples


def fingerprint(subj: str, pred: str, obj: str, algo: str = "sha1") -> bytes:
    """Fingerprint of the canonical triple bytes
    (crypto/fingerprint.go:10-17 fingerprints the marshalled proto; we
    canonicalise as tab-joined fields). ``algo``: 'sha1' is the
    reference's digest; 'sha256' is the portable profile (DuckDB has no
    sha1, so cross-engine signature replay uses sha256)."""
    payload = "\t".join([subj or "", pred or "", obj or ""]).encode()
    return (hashlib.sha1(payload) if algo == "sha1" else hashlib.new(algo, payload)).digest()


def author_id(key: bytes) -> str:
    """`degdb:author_<hash(pubkey)>` (crypto/crypto.go:82-91; reference
    hashes the DER pubkey with murmur3-64 — we use the low 64 bits of
    sha256, same shape/cardinality)."""
    h = int.from_bytes(hashlib.sha256(key).digest()[:8], "big")
    return f"degdb:author_{h}"


def hex_hmac_sha256(key: bytes, msg_hex: str) -> str:
    """HMAC-style keyed MAC in the *hex-string domain*: every operand
    (ipad/opad, inner digest, message) is a lowercase hex string and the
    concatenations are text. Same construction and key schedule as
    RFC-2104, different domain encoding — used for the cross-engine
    signature-parity profile because DuckDB v1.0.0 can only hash
    VARCHAR, not BLOB. Do not mix with the byte-domain default.

    Keys longer than the 64-byte block are pre-hashed to their sha256
    digest, exactly as RFC-2104 prescribes (the SQL oracle's
    ``_hmac_pads`` twin applies the same rule, so parity holds)."""
    if len(key) > 64:
        key = hashlib.sha256(key).digest()
    kp = key + b"\x00" * (64 - len(key))
    ipad = bytes(b ^ 0x36 for b in kp).hex()
    opad = bytes(b ^ 0x5C for b in kp).hex()
    inner = hashlib.sha256((ipad + msg_hex).encode()).hexdigest()
    return hashlib.sha256((opad + inner).encode()).hexdigest()


def signer(key: bytes, fp_algo: str = "sha1") -> Callable[[str | None, str | None, str | None], str]:
    """The hex signature of one triple, as a function of its fields — the
    one per-row signer: ``sign_triples`` runs it on every row, and a
    verifier recomputes it and compares.
    'sha256-hex' is the portable hex-domain profile (``hex_hmac_sha256``
    over the sha256 fingerprint's hex); any other ``fp_algo`` is
    HMAC-SHA256 over that fingerprint's bytes. The HMAC key schedule runs
    once, here; each row signs with a copy of it."""
    if fp_algo == "sha256-hex":
        return lambda s, p, o: hex_hmac_sha256(key, fingerprint(s, p, o, "sha256").hex())
    keyed = hmac.new(key, digestmod=hashlib.sha256)

    def sign(s: str | None, p: str | None, o: str | None) -> str:
        mac = keyed.copy()
        mac.update(fingerprint(s, p, o, fp_algo))
        return mac.hexdigest()

    return sign


def sign_triples(rows: pa.Table, key: bytes, fp_algo: str = "sha1") -> pa.Table:
    """Set author + sig on every row (SignTriple, crypto/crypto.go:62-80),
    in-process; the result is in ARROW_SCHEMA.

    HMAC signatures are deterministic; like the reference's ECDSA ones they
    must still be stripped for cross-store comparison because the key
    differs per writer.
    """
    table = conform_triples(rows)
    sign = signer(key, fp_algo)
    subj, pred, obj = (table[c].to_numpy(zero_copy_only=False) for c in ("subj", "pred", "obj"))
    sigs = list(map(sign, subj, pred, obj))
    for name, values in (("author", [author_id(key)] * table.num_rows), ("sig", sigs)):
        field = ARROW_SCHEMA.field(name)
        table = table.set_column(ARROW_SCHEMA.get_field_index(name), field, pa.array(values, field.type))
    return table
