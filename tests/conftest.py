"""Shared fixtures: one SparkSession per test session, DuckDB oracle
harness mirroring the driver's compare (row count + schema + order-
insensitive value hash with columns sorted by name)."""

from __future__ import annotations

import math
import os
import sys
import types
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyconnect_spark.catalog import TABLES, table_path
from pyconnect_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pyconnect-spark-tests", cores=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture()
def viewfs(spark, tmp_path):
    """A Hadoop ``viewfs://`` mount of ``tmp_path/mounted``, which only
    the path's FileSystem can list, rename and delete: ``.uri`` is the
    mount point, ``.local`` the directory behind it. Each test gets its
    own mount table, as Hadoop caches one FileSystem per table."""
    local = tmp_path / "mounted"
    local.mkdir()
    table = f"t{uuid.uuid4().hex[:12]}"
    link = f"fs.viewfs.mounttable.{table}.link./mnt"
    conf = spark._jsc.hadoopConfiguration()
    conf.set(link, local.as_uri())
    yield types.SimpleNamespace(uri=f"viewfs://{table}/mnt", local=local)
    conf.unset(link)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_ORACLE, name)}')"
        )
    yield con
    con.close()


def _canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical_rows(df_rows, colnames):
    """Order-insensitive canonical form: columns sorted by name, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    rows = [tuple(_canon_cell(r[i]) for i in order) for r in df_rows]
    rows.sort()
    return rows


def compare_with_oracle(spark_df, ddb_con, oracle_sql):
    """Returns (ok, detail). Mirrors the driver's t2 check."""
    sp_cols = spark_df.columns
    sp_rows = [tuple(r) for r in spark_df.collect()]
    rel = ddb_con.sql(oracle_sql)
    dd_cols = rel.columns
    dd_rows = rel.fetchall()
    if sorted(sp_cols) != sorted(dd_cols):
        return False, f"column mismatch: spark={sorted(sp_cols)} duckdb={sorted(dd_cols)}"
    if len(sp_rows) != len(dd_rows):
        return False, f"row count mismatch: spark={len(sp_rows)} duckdb={len(dd_rows)}"
    a = canonical_rows(sp_rows, sp_cols)
    b = canonical_rows(dd_rows, dd_cols)
    if a != b:
        diff_a = [r for r in a if r not in set(b)][:5]
        diff_b = [r for r in b if r not in set(a)][:5]
        return False, f"value mismatch; spark-only={diff_a} duckdb-only={diff_b}"
    return True, f"ok ({len(sp_rows)} rows)"
