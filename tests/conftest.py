"""Shared fixtures: one local SparkSession + a DuckDB oracle harness.

Mirrors the driver's correctness gate (repo instructions): run the Spark
builder and the oracle SQL on the same parquet tables, sort columns by name,
sort rows, normalize floats, and compare values.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from datetime import datetime
from pathlib import Path

import duckdb
import pytest

from data_preparation_plugin_spark import get_spark
from data_preparation_plugin_spark.plans.registry import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    session = get_spark(
        app_name="dpp-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        warehouse_dir=str(tmp_path_factory.mktemp("dpp-spark-warehouse")),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield session


#: Builds and collects every oracle-checked query in a fresh interpreter
#: the way an external caller would: a vanilla ``getOrCreate`` session (none
#: of ``session.py``'s conf) with a deliberately NON-UTC JVM timezone, so
#: any hidden dependence on the repo's own session shows up as an error,
#: a value mismatch or a dtype mismatch.
VANILLA_SESSION_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.extraJavaOptions", "-Duser.timezone=America/New_York")
    .getOrCreate()
)

from data_preparation_plugin_spark import plans

def enc(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)

out = {{}}
for name, query in plans.QUERIES.items():
    if query.oracle is None:
        continue
    df = query.builder(spark, {sf_dir!r})
    out[name] = {{
        "columns": df.columns,
        "dtypes": dict(df.dtypes),
        "rows": [list(row) for row in df.collect()],
    }}
print("RESULT_JSON:" + json.dumps(out, default=enc))
"""


@pytest.fixture(scope="session")
def vanilla_session_results(oracle):
    """name -> {columns, dtypes, rows, oracle} of every oracle-checked
    query, each built ONCE under :data:`VANILLA_SESSION_SCRIPT`. Rows are
    JSON round tripped (datetimes as isoformat strings, which
    ``_normalize`` renders the oracle's datetimes as too). ``oracle`` is
    the canonical DuckDB result, taken right after the run: some oracles
    read files their builder stages, which later tests restage from
    other fixtures."""
    from data_preparation_plugin_spark import plans

    repo = str(Path(__file__).resolve().parent.parent)
    script = VANILLA_SESSION_SCRIPT.format(repo=repo, sf_dir=SF_DIR)
    # 900s: the subprocess runs EVERY oracle-checked query (414) at
    # local[4]; the bound is incidental plumbing, not part of the contract.
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        pytest.fail(f"vanilla-session run failed:\n{proc.stderr[-3000:]}")
    payload = next(
        line
        for line in proc.stdout.splitlines()
        if line.startswith("RESULT_JSON:")
    )
    results = json.loads(payload[len("RESULT_JSON:"):])
    for name, got in results.items():
        got["oracle"] = duckdb_result(oracle, plans.QUERIES[name].oracle)
    return results


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the test tables registered as views."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _normalize(value):
    if isinstance(value, bool):
        return int(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value, 6)
    if isinstance(value, datetime):
        return value.replace(tzinfo=None).isoformat()
    if hasattr(value, "isoformat"):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    if isinstance(value, int):
        return value
    return value


def canonical_rows(columns, rows):
    """Sort columns by name and rows by value — order-insensitive compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_normalize(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple(str(v) for v in r))
    return [columns[i] for i in order], out


def spark_result(df):
    return canonical_rows(df.columns, [tuple(r) for r in df.collect()])


def duckdb_result(con, sql):
    cur = con.execute(sql)
    columns = [d[0] for d in cur.description]
    return canonical_rows(columns, cur.fetchall())


#: DuckDB result type -> Spark dtypes that serialize identically through a
#: typed comparator (pandas/arrow). Anything NOT in this table — HUGEINT,
#: DECIMAL, unsigned ints — is a parity hazard: values can be equal while a
#: type-aware value hash differs (the r1 q12 failure mode).
DUCK_TO_SPARK_TYPES = {
    "BOOLEAN": {"boolean"},
    # Width-only int divergence is hash-safe (proven by r1: window_topk,
    # q9 etc. were green with DuckDB BIGINT vs Spark int) — both map to
    # integer dtypes through pandas. HUGEINT maps to float64, hence fatal.
    "INTEGER": {"int", "bigint"},
    "BIGINT": {"bigint", "int"},
    "FLOAT": {"float"},
    "DOUBLE": {"double"},
    "VARCHAR": {"string"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp_ntz", "timestamp"},
    "INTEGER[]": {"array<int>"},
    "BIGINT[]": {"array<bigint>"},
    "FLOAT[]": {"array<float>"},
    "DOUBLE[]": {"array<double>"},
    "VARCHAR[]": {"array<string>"},
}


def assert_types_parity(name, sp, con, sql):
    """Fail if the oracle's DuckDB types can't hash-match the Spark dtypes
    ``sp`` (column -> ``DataFrame.dtypes`` string)."""
    rel = con.sql(sql)
    duck = dict(zip(rel.columns, (str(t) for t in rel.types)))
    assert set(duck) == set(sp), f"{name}: column sets differ {duck} vs {sp}"
    for col, dtype in duck.items():
        allowed = DUCK_TO_SPARK_TYPES.get(dtype)
        assert allowed is not None, (
            f"{name}.{col}: oracle type {dtype} has no safe Spark twin — "
            f"CAST it (r1 q12 HUGEINT lesson)"
        )
        assert sp[col] in allowed, (
            f"{name}.{col}: oracle {dtype} vs spark {sp[col]}"
        )
