from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from degdb_spark.session import get_spark

    spark = get_spark(app_name="degdb_spark_tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def testdata(spark):
    from degdb_spark.catalog import register_all

    return register_all(spark, SF_SMOKE)


@pytest.fixture(scope="session")
def registry_plans(spark, testdata):
    """name → DataFrame (or the exception its build raised) for every
    registry entry at SF_SMOKE — built once per session, shared by the
    registry-wide plan checks."""
    from degdb_spark.queries import registry

    plans = {}
    for name, q in registry().items():
        try:
            plans[name] = q.spark(spark, SF_SMOKE)
        except Exception as e:
            plans[name] = e
    return plans


@pytest.fixture(scope="session")
def obama_store(spark):
    """The reference's canonical 4-row fixture
    (triplestore/triplestore_test.go:15-36)."""
    from degdb_spark.operators.triplestore import TripleStore

    rows = [
        {"subj": "/m/02mjmr", "pred": "/type/object/name", "obj": "Barack Obama"},
        {"subj": "/m/02mjmr", "pred": "/type/object/type", "obj": "/people/person"},
        {"subj": "/m/0hume", "pred": "/type/object/name", "obj": "Hume"},
        {"subj": "/m/0hume", "pred": "/type/object/type", "obj": "/organization/team"},
    ]
    return TripleStore.from_rows(spark, rows)


def spo(df):
    """Sorted (subj, pred, obj) tuples, volatile fields stripped — the
    comparison discipline of the reference's tests."""
    return sorted(
        (r["subj"], r["pred"], r["obj"])
        for r in df.select("subj", "pred", "obj").collect()
    )
