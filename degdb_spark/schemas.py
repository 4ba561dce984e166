"""Canonical schemas.

TRIPLE_SCHEMA mirrors the reference's universal record
(/root/reference/protocol/protocol.proto:29-39): one table shape, all
values strings, plus server-stamped ``created``. Testdata schemas match
/root/testdata (TESTDATA.md / FIXTURES.md).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: The universal triple record (protocol/protocol.proto:29-39). ``created``
#: is a timestamp here (reference stores epoch seconds, core/http.go:64-69).
TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("sig", T.StringType(), True),
        T.StructField("created", T.TimestampType(), True),
    ]
)

#: TRIPLE_SCHEMA as Arrow: ``created`` is timestamp[us, UTC], the type
#: Spark's ``toArrow`` gives TimestampType under the UTC session zone.
#: Arrow does not enforce ``subj``'s ``nullable=False``;
#: ``sources.json_triples.triples_from_json`` checks it.
ARROW_SCHEMA = to_arrow_schema(TRIPLE_SCHEMA)


def conform_triples(table: pa.Table) -> pa.Table:
    """Columns of ARROW_SCHEMA in order; missing ones are NULL, extra
    ones dropped."""
    cols = [
        table[f.name].cast(f.type) if f.name in table.column_names else pa.nulls(table.num_rows, f.type)
        for f in ARROW_SCHEMA
    ]
    return pa.Table.from_arrays(cols, schema=ARROW_SCHEMA)


#: Columns that identify a triple — set semantics / unique index in the
#: reference (triplestore/triplestore.go:42).
TRIPLE_KEY = ["subj", "pred", "obj"]

#: Non-deterministic fields stripped before comparison, exactly as the
#: reference's own tests do (core/query_test.go:64-72).
TRIPLE_VOLATILE = ["author", "sig", "created"]

#: Driver testdata table names (TESTDATA.md).
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
