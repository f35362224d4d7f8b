"""PostgreSQL helpers shared by the COPY transport and its tests.

The reference's entire IO surface is PostgreSQL, and its actual transport
is COPY: Embulk bulk-loads via COPY, ``shp2pgsql | psql`` pipes COPY text
(reference ``operators/shp2pgsql.py:13-27``), and the psycopg2 engine is
opened in batch mode (reference ``hooks/dataset.py:84-85``). The engine's
one COPY transport is the ``dpp_pg_copy`` DataSource
(:mod:`data_preparation_plugin_spark.sources.python_datasource`): staged,
atomically committed writes and range-partitioned quoting-aware reads.
This module holds what that transport and the live-PG tests share with
zero extra dependencies: the Spark -> PostgreSQL type map and DDL, a
``psql`` statement runner, ``information_schema`` type lookup, and a
throwaway local server for tests and registered queries.
"""

from __future__ import annotations

import atexit
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import types as T

#: Spark atomic type -> PostgreSQL column type: the write-side inverse of
#: :data:`data_preparation_plugin_spark.sources.PG_TYPE_MAP` (which is the
#: read-side contract). Decimal is handled separately (parameterized).
#: LTZ is an instant, so it maps to ``timestamptz``: the writer's Arrow CSV
#: carries the session-TZ offset, which a zoneless ``timestamp`` drops.
_SPARK_TO_PG: dict[type, str] = {
    T.ByteType: "smallint",
    T.ShortType: "smallint",
    T.IntegerType: "integer",
    T.LongType: "bigint",
    T.FloatType: "real",
    T.DoubleType: "double precision",
    T.StringType: "text",
    T.BooleanType: "boolean",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
}


def pg_type_for(dt: T.DataType) -> str:
    """PostgreSQL column type for a Spark atomic type (raises on nested)."""
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    for spark_type, pg_type in _SPARK_TO_PG.items():
        if isinstance(dt, spark_type):
            return pg_type
    raise TypeError(f"no PostgreSQL mapping for Spark type {dt.simpleString()}")


def pg_ddl(schema: T.StructType, table: str) -> str:
    """CREATE TABLE statement for a Spark schema (identifiers quoted)."""
    cols = ", ".join(
        f'"{field.name}" {pg_type_for(field.dataType)}'
        for field in schema.fields
    )
    return f'CREATE TABLE "{table}" ({cols})'


def run_psql(conninfo: str, sql: str) -> str:
    """Run one SQL statement through psql, returning unaligned stdout."""
    proc = subprocess.run(
        [
            "psql", conninfo, "-X", "-q", "-At",
            "-v", "ON_ERROR_STOP=1", "-c", sql,
        ],
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"psql failed: {proc.stderr.strip()}")
    return proc.stdout


def pg_table_types(conninfo: str, table: str) -> dict[str, str]:
    """column -> data_type from information_schema (PG_TYPE_MAP evidence)."""
    out = run_psql(
        conninfo,
        "SELECT column_name || '|' || data_type FROM "
        "information_schema.columns WHERE table_name = "
        f"'{table}' ORDER BY ordinal_position",
    )
    return dict(
        line.split("|", 1) for line in out.splitlines() if line.strip()
    )


# ---------------------------------------------------------------------------
# Embedded test server management (local-mode evidence for the live-PG path)
# ---------------------------------------------------------------------------

_PG_STAGE = os.path.join(tempfile.gettempdir(), "dpp-postgres-stage")


def _run_as_owner(args: list[str]) -> subprocess.CompletedProcess:
    """Run a PG server command, dropping to the ``postgres`` system user
    when invoked as root (initdb/postgres refuse to run as root)."""
    if os.geteuid() == 0:
        args = ["runuser", "-u", "postgres", "--", *args]
    return subprocess.run(args, capture_output=True, text=True)


def _stop_postgres(data: str, starter_pid: int) -> None:
    """``atexit`` hook: fast-stop the server this process started (a
    forked child inherits the hook but never started the server)."""
    if os.getpid() == starter_pid:
        _run_as_owner(["pg_ctl", "-D", data, "-m", "fast", "stop"])


def ensure_postgres(stage_dir: str = _PG_STAGE) -> str:
    """Start (or reuse) a throwaway local PostgreSQL; return its conninfo.

    Unix-socket only (no TCP port to collide on), data under
    ``stage_dir``, trust auth — the same shape as the reference's own
    dockerized test Postgres (reference ``README.md:183-207``). Reuses a
    live server across calls; raises RuntimeError with the underlying
    stderr when no server can be started (callers turn that into a test
    skip). A server this process starts is stopped when it exits; a
    server it merely reused is left running for its starter.
    """
    sock = os.path.join(stage_dir, "sock")
    data = os.path.join(stage_dir, "data")
    conninfo = f"host={sock} user=postgres dbname=postgres"
    try:
        run_psql(conninfo, "SELECT 1")
        return conninfo
    except (RuntimeError, FileNotFoundError):
        pass
    if shutil.which("initdb") is None or shutil.which("pg_ctl") is None:
        raise RuntimeError("PostgreSQL server binaries not installed")
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(sock, exist_ok=True)
    os.makedirs(data, exist_ok=True)
    if os.geteuid() == 0:
        shutil.chown(stage_dir, user="postgres", group="postgres")
        shutil.chown(sock, user="postgres", group="postgres")
        shutil.chown(data, user="postgres", group="postgres")
    init = _run_as_owner(["initdb", "-D", data, "-U", "postgres", "-A", "trust"])
    if init.returncode != 0:
        raise RuntimeError(f"initdb failed: {init.stderr.strip()}")
    start = _run_as_owner(
        [
            "pg_ctl", "-D", data, "-w",
            "-o", f"-c listen_addresses='' -c unix_socket_directories={sock}",
            "-l", os.path.join(stage_dir, "server.log"),
            "start",
        ]
    )
    if start.returncode != 0:
        raise RuntimeError(f"pg_ctl start failed: {start.stderr.strip()}")
    atexit.register(_stop_postgres, data, os.getpid())
    run_psql(conninfo, "SELECT 1")
    return conninfo


__all__ = [
    "ensure_postgres",
    "pg_ddl",
    "pg_table_types",
    "pg_type_for",
    "run_psql",
]
