"""Shared fixtures: one SparkSession per test run + the DuckDB
oracle-differential harness that mimics the driver's check
(row count + schema-name set + order-insensitive values)."""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

from map_reduce_library_spark.session import get_session  # noqa: E402
from map_reduce_library_spark.tables import TABLE_NAMES, table_path  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Workers must be able to unpickle functions defined in test
    # modules and in the package: put both on the executor PYTHONPATH.
    tests_dir = str(Path(__file__).resolve().parent)
    extra = os.pathsep.join([str(REPO), tests_dir])
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{extra}{os.pathsep}{prev}" if prev else extra
    s = get_session(app_name="mrls-tests", shuffle_partitions=8)
    yield s


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the testdata tables as views."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def _canon(v):
    """Canonicalize a value for order-insensitive comparison."""
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, (int,)):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        # floats must match to 9 significant decimals between engines;
        # queries should prefer exact types where hashes matter
        return f"f:{v:.9g}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    return f"s:{v}"


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def assert_oracle_match(spark, name: str, sf_dir: str = SF_CORRECTNESS):
    """Run queries()[name] on Spark and oracle_sql()[name] on DuckDB;
    assert count, column-name set, and order-insensitive values match."""
    from map_reduce_library_spark.queries import ORACLES, QUERIES

    df = QUERIES[name](spark, sf_dir)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    con = duck_con(sf_dir)
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: spark={sorted(spark_cols)} "
        f"duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_ms = rows_multiset(spark_cols, spark_rows)
    d_ms = rows_multiset(duck_cols, duck_rows)
    if s_ms != d_ms:
        diff_s = [r for r in s_ms if r not in set(d_ms)][:5]
        diff_d = [r for r in d_ms if r not in set(s_ms)][:5]
        raise AssertionError(
            f"{name}: value multiset differs.\n spark-only: {diff_s}\n duck-only: {diff_d}"
        )


def jobs_started_by(spark, fn) -> int:
    """Run ``fn`` under a fresh job group; return how many Spark jobs
    it started. The group is set on the calling thread, and PySpark's
    pinned-thread mode gives that thread its own JVM thread, so jobs
    that other threads start are not counted."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
