"""Shared fixtures: one SparkSession per test run + the DuckDB oracle
comparator that mirrors the driver's check (row count, column names, and
order-insensitive value comparison with canonical value rendering)."""

from __future__ import annotations

import contextlib
import math
import os
import uuid

import duckdb
import pytest

from trialsync_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
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
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="trialsync-tests", cpus=8, shuffle_partitions=8)
    yield s


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs the with-block launches from the
    calling thread: a fresh job group is set on this thread, and after the
    block (once the listener bus has delivered every job event) the group's
    jobs are read back from the status tracker into the yielded list."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon(v):
    """Canonical comparable rendering of a cell value."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style tolerance: collapse float noise
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def assert_frames_match(spark_df, con, sql, name=""):
    """Order-insensitive comparison of a Spark DataFrame vs a DuckDB query:
    same row count, same (sorted) column names, same multiset of rows."""
    oracle_rel = con.execute(sql)
    o_cols = [d[0] for d in oracle_rel.description]
    o_rows = oracle_rel.fetchall()

    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(s_cols) == sorted(o_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count spark={len(s_rows)} oracle={len(o_rows)}"
    )

    order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    o_order = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    s_set = sorted(
        tuple(_canon(row[i]) for i in order) for row in s_rows
    )
    o_set = sorted(
        tuple(_canon(row[i]) for i in o_order) for row in o_rows
    )
    mismatches = [
        (a, b) for a, b in zip(s_set, o_set) if a != b
    ]
    assert s_set == o_set, (
        f"{name}: value mismatch; first diffs: {mismatches[:5]}"
    )
