from __future__ import annotations

import itertools
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
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), Spark jobs fn ran), counted exactly
    through a job group of its own. Session-scoped so group ids never
    repeat: the status tracker keeps a finished group's jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = itertools.count()

    def run(fn):
        group = f"test-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return result, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def obama_store(spark):
    """The reference's canonical 4-row fixture
    (triplestore/triplestore_test.go:15-36)."""
    rows = [
        {"subj": "/m/02mjmr", "pred": "/type/object/name", "obj": "Barack Obama"},
        {"subj": "/m/02mjmr", "pred": "/type/object/type", "obj": "/people/person"},
        {"subj": "/m/0hume", "pred": "/type/object/name", "obj": "Hume"},
        {"subj": "/m/0hume", "pred": "/type/object/type", "obj": "/organization/team"},
    ]
    return store_of(spark, rows)


def store_of(spark, rows):
    """A TripleStore holding ``rows``, partial-triple dicts (a missing
    field is NULL)."""
    import pyarrow as pa

    from degdb_spark.operators.triplestore import TripleStore
    from degdb_spark.schemas import ARROW_SCHEMA

    store = TripleStore(spark)
    store.insert(pa.Table.from_pylist(list(rows), schema=ARROW_SCHEMA))
    return store


def spo(df):
    """Sorted (subj, pred, obj) tuples, volatile fields stripped — the
    comparison discipline of the reference's tests."""
    return sorted(
        (r["subj"], r["pred"], r["obj"])
        for r in df.select("subj", "pred", "obj").collect()
    )
