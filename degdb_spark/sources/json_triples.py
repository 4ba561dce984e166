"""JSON triple source — the payload of POST /api/v1/insert (the
reference's core/http.go:40-59), a JSON array of (partial) triples,
parsed in-process into an Arrow table in the store's schema.
"""

from __future__ import annotations

import json
from typing import Iterable, Mapping

import pyarrow as pa

from degdb_spark.schemas import ARROW_SCHEMA

#: the fields a row may carry
_FIELDS = frozenset(ARROW_SCHEMA.names)
#: the fields a client may set; ``created`` is the node's to stamp
_CLIENT_FIELDS = [name for name in ARROW_SCHEMA.names if name != "created"]


def triples_from_json(payload: str | Iterable[Mapping]) -> pa.Table:
    """Parse a JSON array of triples (or one bare object) into an
    ARROW_SCHEMA table (handleInsertTriple's json.Decode,
    core/http.go:46-52). Missing keys are NULL. Raises ValueError for a
    row that is not an object, an unknown key, a non-string value, a
    missing or NULL ``subj``, or a non-NULL ``created``."""
    rows = json.loads(payload) if isinstance(payload, str) else payload
    if isinstance(rows, Mapping):
        rows = [rows]
    if isinstance(rows, (str, bytes)) or not isinstance(rows, Iterable):
        raise ValueError("insert payload must be a JSON array of triples")
    cols: dict[str, list] = {name: [] for name in _CLIENT_FIELDS}
    for r in rows:
        if not isinstance(r, Mapping):
            raise ValueError(f"a triple must be a JSON object, got {r!r}")
        unknown = r.keys() - _FIELDS
        if unknown:
            raise ValueError(f"unknown triple fields: {sorted(unknown)}")
        if r.get("created") is not None:
            raise ValueError("created is stamped by the node, not the client")
        if r.get("subj") is None:
            raise ValueError(f"a triple needs a subj: {dict(r)!r}")
        for name, col in cols.items():
            v = r.get(name)
            if v is not None and not isinstance(v, str):
                raise ValueError(f"triple field {name} must be a string, got {v!r}")
            col.append(v)
    n = len(cols["subj"])
    arrays = [
        pa.array(cols[f.name], f.type) if f.name in cols else pa.nulls(n, f.type)
        for f in ARROW_SCHEMA
    ]
    return pa.Table.from_arrays(arrays, schema=ARROW_SCHEMA)
