"""Shared fixtures: one SparkSession per test session and a DuckDB-oracle
compare helper mirroring the driver's check (row count + schema + order-
insensitive value comparison)."""

from __future__ import annotations

import math
import os
from datetime import date, datetime, timezone

import duckdb
import pytest

from vectordb_data_ingestion_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")

# the ONE canonical table list lives in session.py (review r5: four
# hand-maintained copies could drift silently)
from vectordb_data_ingestion_spark.session import ALL_TABLE_NAMES as TABLES  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s


_DUCK_CONS: dict[str, duckdb.DuckDBPyConnection] = {}


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One cached connection per sf dir: the oracle suite asserts ~160
    times per scale factor, and a fresh connect + 10 CREATE VIEWs per
    assertion leaked connections and re-paid view setup every call."""
    if sf_dir not in _DUCK_CONS:
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        _DUCK_CONS[sf_dir] = con
    return _DUCK_CONS[sf_dir]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            # convert aware values to UTC BEFORE dropping tzinfo: equal
            # instants in different zones must normalize identically
            v = v.astimezone(timezone.utc)
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def assert_matches_oracle(spark, name, spark_fn, sql, sf_dir):
    """Run the Spark query and the DuckDB oracle, compare like the driver:
    row count, sorted column names, and multiset of normalized rows."""
    sdf = spark_fn(spark, sf_dir)
    spark_cols = sorted(sdf.columns)
    spark_rows = [tuple(_norm(r[c]) for c in spark_cols) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(sql)
    duck_cols_raw = [d[0] for d in res.description]
    rows_raw = res.fetchall()
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in order]
    duck_rows = [tuple(_norm(row[i]) for i in order) for row in rows_raw]

    assert spark_cols == duck_cols, (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    diff = _multiset_diff(spark_rows, duck_rows)
    assert not diff, f"{name}: value mismatch, first diffs: {diff[:5]}"


def _multiset_diff(a, b):
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    out = []
    for k in ca.keys() | cb.keys():
        if ca[k] != cb[k]:
            out.append((k, ca[k], cb[k]))
    return out


def jobs_during(spark, fn):
    """``fn()`` and the number of Spark jobs it launched, counted through
    a job group once the listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
