"""Live-PostgreSQL round trip over the COPY transport.

The reference's native habitat is a real Postgres (reference
``hooks/dataset.py:84-85,120-201``), tested there against a dockerized
server (reference ``README.md:183-207``). These tests start an actual
PostgreSQL server (unix socket, trust auth, throwaway data dir) and push
real data through the engine's one COPY transport, the ``dpp_pg_copy``
DataSource, in both directions with a DECLARED schema — runtime evidence
for the PG type contract (``sources.postgres_copy.pg_ddl``) that the
Derby-backed JDBC tests can only assert structurally. Skips cleanly
where no server can be started.
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from pyspark.sql import Row
from pyspark.sql import types as T

from data_preparation_plugin_spark.sources import postgres_copy as pgc
from data_preparation_plugin_spark.sources.python_datasource import (
    PgCopyDataSource,
    _split_predicates,
)


@pytest.fixture(scope="module")
def conninfo():
    try:
        return pgc.ensure_postgres()
    except (RuntimeError, OSError) as exc:
        pytest.skip(f"no local PostgreSQL available: {exc}")


def copy_to_pg(df, table, conninfo) -> int:
    """Overwrite ``table`` with ``df`` through ``dpp_pg_copy``; return the
    row count PostgreSQL holds afterwards."""
    df.sparkSession.dataSource.register(PgCopyDataSource)
    (
        df.write.format("dpp_pg_copy")
        .option("conninfo", conninfo)
        .option("table", table)
        .mode("overwrite")
        .save()
    )
    return int(pgc.run_psql(conninfo, f'SELECT count(*) FROM "{table}"'))


def read_pg(spark, table, schema, conninfo, **options):
    """``dpp_pg_copy`` read of ``table`` against a declared schema."""
    spark.dataSource.register(PgCopyDataSource)
    return (
        spark.read.format("dpp_pg_copy")
        .schema(schema)
        .option("conninfo", conninfo)
        .option("table", table)
        .options(**{k: str(v) for k, v in options.items()})
        .load()
    )


FULL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("small", T.ShortType()),
        T.StructField("quantity", T.IntegerType()),
        T.StructField("ratio", T.DoubleType()),
        T.StructField("price", T.DecimalType(12, 2)),
        T.StructField("label", T.StringType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("day", T.DateType()),
        T.StructField("at", T.TimestampType()),
    ]
)

TRICKY_ROWS = [
    Row(
        id=1,
        small=7,
        quantity=42,
        ratio=3.140000001,
        price=decimal.Decimal("19.99"),
        label='comma, "quote", and\nnewline',
        active=True,
        day=datetime.date(2024, 2, 29),
        at=datetime.datetime(2024, 2, 29, 23, 59, 59, 123456),
    ),
    Row(
        id=2,
        small=None,
        quantity=None,
        ratio=None,
        price=None,
        label=None,
        active=None,
        day=None,
        at=None,
    ),
    Row(
        id=3,
        small=-1,
        quantity=-2147483648,
        ratio=-0.0625,
        price=decimal.Decimal("-0.01"),
        label="unicode: déjà vu — ✓",
        active=False,
        day=datetime.date(1970, 1, 1),
        at=datetime.datetime(2001, 9, 9, 1, 46, 40),
    ),
]


def test_ddl_matches_information_schema(conninfo):
    """pg_ddl column types land in information_schema exactly as declared —
    the live counterpart of the PG_TYPE_MAP contract."""
    pgc.run_psql(conninfo, 'DROP TABLE IF EXISTS "dpp_ddl_probe"')
    pgc.run_psql(conninfo, pgc.pg_ddl(FULL_SCHEMA, "dpp_ddl_probe"))
    assert pgc.pg_table_types(conninfo, "dpp_ddl_probe") == {
        "id": "bigint",
        "small": "smallint",
        "quantity": "integer",
        "ratio": "double precision",
        "price": "numeric",
        "label": "text",
        "active": "boolean",
        "day": "date",
        "at": "timestamp with time zone",
    }


def test_copy_roundtrip_tricky_values(spark, conninfo):
    """Write tricky rows through COPY, read them back, get identical rows —
    quotes, newlines, unicode, NULLs in every type, negative decimals."""
    df = spark.createDataFrame(TRICKY_ROWS, FULL_SCHEMA)
    assert copy_to_pg(df, "dpp_roundtrip", conninfo) == 3
    back = read_pg(spark, "dpp_roundtrip", FULL_SCHEMA, conninfo)
    got = sorted(back.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert got == want


def test_copy_roundtrip_single_partition_nullable_ints(spark, conninfo):
    """A SINGLE partition mixing NULL and non-NULL integers round-trips.

    Regression for ADVICE r8: a CSV write that goes through pandas widens
    an int column with any NULL to float64 within a partition and emits
    ``7.0``, which PG COPY rejects for smallint/integer/bigint. The 3-row
    tricky test can pass with each row in its own partition; this
    coalesces to one partition so a mixed column would truly widen.
    """
    df = spark.createDataFrame(TRICKY_ROWS, FULL_SCHEMA).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    assert copy_to_pg(df, "dpp_nullable_int", conninfo) == 3
    back = read_pg(spark, "dpp_nullable_int", FULL_SCHEMA, conninfo)
    got = sorted(back.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert got == want


def test_read_distinguishes_literal_backslash_n_from_null(spark, conninfo):
    """A genuine string ``\\N`` stored in PG reads back as the string.

    PG COPY quotes a data value equal to the NULL marker on output; the
    pyarrow CSV parse keeps that quoting, so only the unquoted marker
    becomes NULL (ADVICE r8 read-side fix).
    """
    pgc.run_psql(conninfo, 'DROP TABLE IF EXISTS "dpp_nullmark"')
    pgc.run_psql(
        conninfo, 'CREATE TABLE "dpp_nullmark" (id bigint, payload text)'
    )
    pgc.run_psql(
        conninfo,
        "INSERT INTO \"dpp_nullmark\" VALUES"
        " (1, E'\\\\N'), (2, NULL), (3, 'plain')",
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    back = read_pg(spark, "dpp_nullmark", schema, conninfo)
    got = {r.id: r.payload for r in back.collect()}
    assert got == {1: "\\N", 2: None, 3: "plain"}


def test_partitioned_read_covers_all_rows(spark, conninfo):
    """Range-split COPY read returns every row exactly once, including ids
    outside the declared bounds (Spark JDBC split semantics)."""
    df = spark.range(0, 1000).selectExpr(
        "id", "concat('payload-', id) AS payload"
    )
    assert copy_to_pg(df, "dpp_parts", conninfo) == 1000
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    back = read_pg(
        spark,
        "dpp_parts",
        schema,
        conninfo,
        partition_column="id",
        # Bounds deliberately INSIDE the data range: rows below/above must
        # still arrive via the unbounded first/last splits.
        lower_bound=200,
        upper_bound=800,
        num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    rows = back.collect()
    assert len(rows) == 1000
    assert {r.id for r in rows} == set(range(1000))
    assert all(r.payload == f"payload-{r.id}" for r in rows)


def test_split_predicates_partition_the_line():
    """Split predicates are exhaustive and disjoint on integer inputs."""
    preds = _split_predicates("k", 0, 100, 4)
    assert len(preds) == 4
    assert "IS NULL" in preds[0]
    assert preds[-1] == '"k" >= 75'


def test_copy_roundtrip_timestamps_under_non_utc_session(spark, conninfo):
    """LTZ values keep their instant and NTZ values their wall time when
    the session timezone differs from the Python workers' (UTC here).

    LTZ lands in ``timestamptz``, so the offset the writer's Arrow CSV
    carries (``-0500`` under New York) is honored and the reader parses
    zone-aware values. A zoneless column dropped that offset and read the
    wall time back in the worker's TZ, shifting every instant by 5 hours.
    """
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("at", T.TimestampType()),
            T.StructField("wall", T.TimestampNTZType()),
        ]
    )
    rows = [(r.id, r.at, r.at) for r in TRICKY_ROWS]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame(rows, schema)
        assert copy_to_pg(df, "dpp_tz_roundtrip", conninfo) == 3
        back = read_pg(spark, "dpp_tz_roundtrip", schema, conninfo)
        got = sorted(back.collect(), key=lambda r: r.id)
        want = sorted(df.collect(), key=lambda r: r.id)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == want


def test_server_stopped_at_exit_only_by_its_starter(conninfo):
    """A process that starts the server stops it when it exits; a process
    that merely reused a live server leaves it running."""
    starter = (
        "import sys; from data_preparation_plugin_spark.sources import"
        " postgres_copy as p; p.run_psql(p.ensure_postgres(*sys.argv[1:]),"
        " 'SELECT 1')"
    )
    stage = tempfile.mkdtemp(prefix="dpp-pg-atexit-")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo}
    try:
        for args in ([stage], []):  # a fresh server, then the shared one
            subprocess.run(
                [sys.executable, "-c", starter, *args], env=env, check=True
            )
        with pytest.raises(RuntimeError):
            pgc.run_psql(
                f"host={stage}/sock user=postgres dbname=postgres", "SELECT 1"
            )
        assert pgc.run_psql(conninfo, "SELECT 1").strip() == "1"
    finally:  # a server the hook failed to stop must not outlive the test
        pgc._run_as_owner(
            ["pg_ctl", "-D", f"{stage}/data", "-m", "immediate", "stop"]
        )
        shutil.rmtree(stage, ignore_errors=True)
