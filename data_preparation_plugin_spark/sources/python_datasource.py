"""Declarative PostgreSQL Python DataSource — the engine's COPY transport.

The reference's ``EmbulkOperator`` is a generic escape hatch: ANY Embulk
input plugin can be driven from a declarative YAML config (reference
``operators/embulk.py:8-24`` builds ``embulk run <config.yml.liquid>``
and never inspects the source itself). This module is the Spark-4-native
twin of that extension point: a custom Python ``DataSource``
(SPARK-44076) whose behavior is fully declared through reader OPTIONS —
no code per source, exactly like an Embulk YAML:

    spark.read.format("dpp_pg_copy")
         .option("conninfo", conninfo)
         .option("table", "events")            # or option("query", ...)
         .option("partition_column", "id")     # optional: N-way planning
         .option("num_partitions", "8")        # bounds reflected if absent
         .load()

Three Embulk-parity behaviors, all declarative:

* **Schema guess** (``embulk guess``): when no ``schema`` option is
  given for a ``table`` read, the driver reflects column names/types
  from ``information_schema.columns`` and maps them to Spark types
  (numeric precision/scale preserved).
* **Partition planning**: ``partition_column`` splits the scan into
  ``num_partitions`` range predicates with Spark-JDBC semantics (first
  split absorbs below-lower plus NULLs, last absorbs at-or-above
  upper); ``lower_bound``/``upper_bound`` are reflected with one
  ``min()``/``max()`` query when not declared. Each split is one
  ``InputPartition`` — Spark schedules them like file-scan splits.
* **Transport**: each partition shells one ``COPY (SELECT ... WHERE
  <range>) TO STDOUT (FORMAT csv)`` through the local ``psql`` and
  Arrow-parses the bytes (quoting-aware NULLs, see :data:`CSV_NULL`)
  — the same COPY path Embulk's own postgresql input plugin uses.
* **Write side** (``df.write.format("dpp_pg_copy").mode(...)``): the
  output-plugin half of the parity. Each task COPYes its Arrow batches
  into a private staging table; the driver commit folds all stagings
  into the target in ONE implicit transaction (Embulk insert-mode
  atomicity — a reader never sees a partial job), honoring
  append/overwrite save modes; abort drops the stagings.
* **Streaming sink** (``df.writeStream.format("dpp_pg_copy")``):
  EXACTLY-ONCE per micro-batch — the same staged transaction plus a
  batch-id ledger (``<target>__epochs``) guarding every insert, so a
  replayed epoch lands nothing twice. Append-only by design
  (complete/update semantics belong to foreachBatch + MERGE).

Scale shape: partitions() runs on the driver (two tiny metadata
queries at most); every data byte moves executor-side, one PG backend
per concurrent task, so ``num_partitions`` doubles as the database
admission knob. On a real cluster the only executor requirement is the
``psql`` client binary — the package itself travels with the usual
Python environment.

This is the engine's only COPY transport: every live-PG read and
write (``source_postgres_copy_roundtrip`` with declared schema and
bounds, ``source_python_datasource_declarative`` with reflected ones,
the streaming sinks in ``plans/events.py``) goes through it;
:mod:`.postgres_copy` keeps only DDL, ``psql`` and server helpers. The
unit-level runtime evidence lives in tests/test_python_datasource.py
and tests/test_postgres_live.py.
"""

from __future__ import annotations

import io
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

from data_preparation_plugin_spark.sources.postgres_copy import (
    pg_ddl,
    run_psql,
)

#: NULL marker of the READ-side COPY dump (the pg_dump convention). PG
#: quotes a data value equal to it on output, so the quoting-aware parse
#: in :meth:`_PgCopyReader.read` keeps a genuine ``\N`` string. The write
#: side uses ``NULL ''`` with quote-all-valid CSV instead (see
#: :func:`_stage_arrow_batches`).
CSV_NULL = r"\N"

#: information_schema.columns ``data_type`` -> Spark DDL type. The long
#: names PostgreSQL reports there, not the short aliases of
#: ``sources.PG_TYPE_MAP`` (which documents the user-facing contract).
_INFOSCHEMA_TO_SPARK = {
    "smallint": "smallint",
    "integer": "int",
    "bigint": "bigint",
    "real": "float",
    "double precision": "double",
    "text": "string",
    "character varying": "string",
    "character": "string",
    "boolean": "boolean",
    "date": "date",
    "timestamp without time zone": "timestamp_ntz",
    "timestamp with time zone": "timestamp",
    "uuid": "string",
    "json": "string",
    "jsonb": "string",
}


def _q_ident(name: str) -> str:
    """Double-quote a PG identifier, escaping embedded double quotes."""
    return '"' + name.replace('"', '""') + '"'


def _q_lit(value: str) -> str:
    """Single-quote a PG string literal, escaping embedded quotes."""
    return "'" + value.replace("'", "''") + "'"


def _split_predicates(
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
) -> list[str]:
    """Range predicates covering ALL rows (Spark JDBC split semantics:
    the first split absorbs everything below the lower bound plus NULLs,
    the last everything at or above the upper bound)."""
    if num_partitions <= 1:
        return ["TRUE"]
    stride = max((upper_bound - lower_bound) // num_partitions, 1)
    col = _q_ident(partition_column)
    bounds = [lower_bound + i * stride for i in range(1, num_partitions)]
    preds = [f"{col} < {bounds[0]} OR {col} IS NULL"]
    preds += [
        f"{col} >= {bounds[i]} AND {col} < {bounds[i + 1]}"
        for i in range(len(bounds) - 1)
    ]
    preds.append(f"{col} >= {bounds[-1]}")
    return preds


def _coerce_to_schema(pdf, schema: T.StructType):
    """Typed pandas frame from the all-string CSV parse of a COPY dump."""
    import decimal

    import pandas as pd

    for field in schema.fields:
        col = pdf[field.name]
        dt = field.dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            pdf[field.name] = pd.to_numeric(col).astype("Int64")
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            pdf[field.name] = pd.to_numeric(col).astype("float64")
        elif isinstance(dt, T.BooleanType):
            pdf[field.name] = col.map(
                {"t": True, "f": False, "true": True, "false": False}
            ).astype("boolean")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # PG emits ISO timestamps with fractional seconds only when
            # nonzero; ISO8601 mode parses the mixed shapes in one pass.
            # LTZ (a timestamptz column) parses zone-aware, so the instant
            # survives any worker TZ; NTZ stays naive wall time. Plain
            # datetimes, not pd.Timestamp: the row converter calls
            # astimezone() on LTZ values.
            ltz = isinstance(dt, T.TimestampType)
            parsed = pd.to_datetime(col, format="ISO8601", utc=ltz)
            pdf[field.name] = pd.Series(
                [None if pd.isna(v) else v.to_pydatetime() for v in parsed],
                index=pdf.index,
                dtype=object,
            )
        elif isinstance(dt, T.DateType):
            parsed = pd.to_datetime(col, format="ISO8601")
            pdf[field.name] = [
                None if pd.isna(v) else v.date() for v in parsed
            ]
        elif isinstance(dt, T.DecimalType):
            pdf[field.name] = [
                None if (v is None or (isinstance(v, float) and pd.isna(v)))
                else decimal.Decimal(v)
                for v in col
            ]
        else:  # StringType and friends: NULLs back to None
            pdf[field.name] = col.where(col.notna(), None)
    return pdf


def _reflect_schema(conninfo: str, table: str, pg_schema: str | None = None) -> str:
    """Spark DDL for a PG table from information_schema (Embulk ``guess``).

    The reflection is scoped to one namespace — ``pg_schema`` when the
    reader declared it, else ``current_schema()`` — so a same-named table
    in another schema can't merge its columns into the reflected DDL
    (ADVICE r12). The table name is interpolated as an escaped literal.
    """
    schema_pred = (
        f"table_schema = {_q_lit(pg_schema)}"
        if pg_schema
        else "table_schema = current_schema()"
    )
    out = run_psql(
        conninfo,
        "SELECT column_name || '|' || data_type || '|' || "
        "coalesce(numeric_precision::text, '') || '|' || "
        "coalesce(numeric_scale::text, '') "
        "FROM information_schema.columns "
        f"WHERE table_name = {_q_lit(table)} AND {schema_pred} "
        "ORDER BY ordinal_position",
    )
    fields = []
    for line in out.splitlines():
        if not line.strip():
            continue
        name, data_type, precision, scale = line.split("|", 3)
        if data_type == "numeric":
            spark_type = (
                f"decimal({precision},{scale})"
                if precision
                else "decimal(38,18)"
            )
        else:
            spark_type = _INFOSCHEMA_TO_SPARK.get(data_type)
            if spark_type is None:
                raise TypeError(
                    f"{table}.{name}: no Spark mapping for PostgreSQL "
                    f"type {data_type!r} — declare a schema option"
                )
        fields.append(f"{name} {spark_type}")
    if not fields:
        raise ValueError(f"table {table!r} not found or has no columns")
    return ", ".join(fields)


class _PgCopyReader(DataSourceReader):
    """One range-predicate COPY scan per InputPartition."""

    def __init__(self, options, schema: T.StructType):
        self._schema = schema
        self._conninfo = options["conninfo"]
        table = options.get("table")
        query = options.get("query")
        col_list = ", ".join(_q_ident(f.name) for f in schema.fields)
        relation = _q_ident(table) if table else f"({query}) dpp_q"
        self._select = f"SELECT {col_list} FROM {relation}"
        self._partition_column = options.get("partition_column")
        self._num_partitions = int(options.get("num_partitions", "4"))
        self._lower = options.get("lower_bound")
        self._upper = options.get("upper_bound")

    def partitions(self):
        if self._partition_column is None:
            return [InputPartition("TRUE")]
        lower, upper = self._lower, self._upper
        if lower is None or upper is None:
            # JDBC-parity auto-bounds: one tiny driver-side metadata
            # query; every data byte still moves executor-side.
            col = _q_ident(self._partition_column)
            out = run_psql(
                self._conninfo,
                f"SELECT min({col}) || '|' || max({col}) "
                f"FROM ({self._select}) dpp_b",
            ).strip()
            if not out or "|" not in out:
                return [InputPartition("TRUE")]  # empty relation
            lo_s, hi_s = out.split("|", 1)
            lower = lower if lower is not None else lo_s
            upper = upper if upper is not None else hi_s
        preds = _split_predicates(
            self._partition_column,
            int(lower),
            int(upper),
            self._num_partitions,
        )
        return [InputPartition(p) for p in preds]

    def read(self, partition):
        import subprocess

        import pyarrow as pa
        from pyarrow import csv as pacsv

        columns = [f.name for f in self._schema.fields]
        copy_sql = (
            f"\\copy ({self._select} WHERE {partition.value}) "
            f"TO STDOUT (FORMAT csv, NULL '{CSV_NULL}')"
        )
        proc = subprocess.run(
            [
                "psql", self._conninfo, "-X", "-q",
                "-v", "ON_ERROR_STOP=1", "-c", copy_sql,
            ],
            capture_output=True,
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"COPY read failed: {proc.stderr.decode().strip()}"
            )
        if not proc.stdout:
            return
        # pyarrow's CSV reader (not pandas') because it keeps quoting
        # information: PG quotes a data value equal to the NULL marker,
        # and with ``quoted_strings_can_be_null=False`` a quoted "\N"
        # survives as the literal string while the unquoted marker
        # becomes NULL — pd.read_csv applies na_values after unquoting
        # and would collapse both.
        pdf = pacsv.read_csv(
            io.BytesIO(proc.stdout),
            read_options=pacsv.ReadOptions(
                column_names=columns, autogenerate_column_names=False
            ),
            convert_options=pacsv.ConvertOptions(
                column_types={c: pa.string() for c in columns},
                null_values=[CSV_NULL],
                strings_can_be_null=True,
                quoted_strings_can_be_null=False,
            ),
        ).to_pandas()
        pdf = _coerce_to_schema(pdf, self._schema)
        # Nullable-dtype missing markers (pd.NA / NaT) are not Arrow
        # scalars; normalize to None before handing rows to the engine.
        pdf = pdf.astype(object).where(pdf.notna(), None)
        for row in pdf.itertuples(index=False, name=None):
            yield row


@dataclass
class _StageCommit(WriterCommitMessage):
    """One staged partition: its staging table (None if empty) + rows."""

    stage_table: str | None
    n_rows: int


def _stage_arrow_batches(conninfo, table, schema, iterator) -> _StageCommit:
    """COPY a task's Arrow batches into a private staging table.

    Shared by the batch and streaming writers. Arrow's CSV writer with
    ``quoting_style="all_valid"`` quotes EVERY valid value and writes
    nulls unquoted-empty; with COPY's ``NULL ''`` that makes the write
    side LOSSLESS — a genuine '\\N' or '' string arrives quoted (a
    value), only real nulls arrive unquoted (a pandas ``to_csv`` cannot
    quote the NULL marker selectively and collapses both). Types stay
    Arrow-side: decimals exact, timestamps ISO, ints never floated by a
    null (no pandas hop at all). The staging table is created lazily so
    empty partitions leave nothing to clean up.
    """
    import io as _io
    import os
    import subprocess
    import tempfile
    import uuid

    from pyarrow import csv as pacsv

    stage = f"{table}__stage_{uuid.uuid4().hex[:12]}_{os.getpid()}"
    proc = None
    # True the instant the staging DDL has run. The cleanup path gates on
    # THIS, not on ``proc``: TemporaryFile()/Popen run after the DDL, so
    # an EMFILE/ENOMEM/exec failure between them would otherwise leak a
    # freshly created stage table (ADVICE r13).
    staged = False
    # stderr goes to an unbuffered temp FILE, never a PIPE: an undrained
    # stderr pipe fills and deadlocks both processes mid-COPY, and the
    # file survives an early psql death so the real error is reportable
    # (ADVICE r12).
    errf = None
    n = 0

    def _stage_error() -> RuntimeError:
        errf.seek(0)
        detail = errf.read().decode(errors="replace").strip()
        return RuntimeError(f"COPY stage failed: {detail or 'psql exited'}")

    try:
        for batch in iterator:
            if proc is None:
                run_psql(conninfo, pg_ddl(schema, stage))
                staged = True
                columns = ", ".join(_q_ident(f.name) for f in schema.fields)
                copy_sql = (
                    f"\\copy {_q_ident(stage)} ({columns}) FROM STDIN "
                    f"(FORMAT csv, NULL '')"
                )
                errf = tempfile.TemporaryFile()
                proc = subprocess.Popen(
                    [
                        "psql", conninfo, "-X", "-q",
                        "-v", "ON_ERROR_STOP=1", "-c", copy_sql,
                    ],
                    stdin=subprocess.PIPE,
                    stderr=errf,
                )
            n += batch.num_rows
            buf = _io.BytesIO()
            pacsv.write_csv(
                batch,
                buf,
                pacsv.WriteOptions(
                    include_header=False, quoting_style="all_valid"
                ),
            )
            try:
                proc.stdin.write(buf.getvalue())
            except BrokenPipeError:
                # psql died early — surface ITS error, not the pipe's.
                proc.wait()
                raise _stage_error() from None
        if proc is None:
            return _StageCommit(stage_table=None, n_rows=0)
        proc.stdin.close()
        if proc.wait() != 0:
            raise _stage_error()
        return _StageCommit(stage_table=stage, n_rows=n)
    except BaseException:
        # ANY failure once the staging table exists — psql death (the
        # paths above), but equally an upstream iterator error, a
        # write_csv failure, or a task kill on the PYTHON side — must
        # not leak the stage: a task that dies mid-write produces NO
        # commit message, so the driver's abort() can never reference
        # this staging table (r13 review). Kill psql first so closing
        # stdin can't read as clean EOF and commit a partial stage,
        # then drop the table best-effort. The drop gates on ``staged``
        # (DDL ran), not on ``proc``: TemporaryFile/Popen can fail
        # between the two and the stage must still be cleaned (ADVICE
        # r13).
        if proc is not None:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if staged:
            try:
                run_psql(
                    conninfo, f"DROP TABLE IF EXISTS {_q_ident(stage)}"
                )
            except RuntimeError:
                pass
        raise
    finally:
        if errf is not None:
            errf.close()


class _PgCopyWriter(DataSourceArrowWriter):
    """Staged, atomically-committed COPY write — Embulk 'insert mode'.

    Each task COPYes its Arrow batches into a private staging table; the
    driver's ``commit`` folds every staging table into the target inside
    ONE psql multi-statement command (a single implicit transaction), so
    the target never exposes a partial write — the semantics Embulk's
    postgresql output plugin calls insert mode (a direct per-partition
    append would leave the finished partitions' rows behind a failed
    job). A failed job's ``abort`` drops the stagings and the target is
    untouched.

    Timestamp note: LTZ (``timestamp``) columns are written with their
    session-TZ offset into ``timestamptz`` and read back zone-aware, so
    the instant round-trips under any session or worker timezone; NTZ
    columns go to zoneless ``timestamp`` as wall time.
    """

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        self._conninfo = options["conninfo"]
        self._table = options["table"]
        self._schema = schema
        self._overwrite = overwrite

    def write(self, iterator):
        return _stage_arrow_batches(
            self._conninfo, self._table, self._schema, iterator
        )

    def commit(self, messages):
        stages = [
            m.stage_table
            for m in messages
            if m is not None and m.stage_table is not None
        ]
        columns = ", ".join(_q_ident(f.name) for f in self._schema.fields)
        stmts = []
        if self._overwrite:
            stmts.append(f"DROP TABLE IF EXISTS {_q_ident(self._table)}")
            stmts.append(pg_ddl(self._schema, self._table))
        else:
            stmts.append(
                pg_ddl(self._schema, self._table).replace(
                    "CREATE TABLE", "CREATE TABLE IF NOT EXISTS", 1
                )
            )
        for s in stages:
            stmts.append(
                f"INSERT INTO {_q_ident(self._table)} ({columns}) "
                f"SELECT {columns} FROM {_q_ident(s)}"
            )
            stmts.append(f"DROP TABLE {_q_ident(s)}")
        # One psql -c string with multiple statements runs as a SINGLE
        # implicit transaction: either every staged partition lands in
        # the target and every staging table is gone, or nothing moved.
        run_psql(self._conninfo, "; ".join(stmts))

    def abort(self, messages):
        for m in messages or []:
            if m is not None and m.stage_table is not None:
                try:
                    run_psql(
                        self._conninfo,
                        f'DROP TABLE IF EXISTS "{m.stage_table}"',
                    )
                except RuntimeError:
                    pass  # best-effort cleanup; stagings are namespaced


class _PgCopyStreamWriter(DataSourceStreamArrowWriter):
    """EXACTLY-ONCE streaming COPY sink: staged epochs + a batch ledger.

    Structured Streaming re-runs a failed micro-batch from the
    checkpoint, so a sink is exactly-once only if committing the same
    ``batchId`` twice lands the data once. Each epoch's partitions
    stage exactly like the batch writer; the driver commit then folds
    stagings into the target AND records the epoch in a ledger table
    (``<target>__epochs``) inside ONE implicit transaction, with every
    INSERT guarded by ``NOT EXISTS(ledger row)`` — a replayed epoch's
    stagings are dropped without inserting. Readers never see a partial
    epoch, and a crash between target-insert and ledger-insert is
    impossible by construction (same transaction).

    The ledger is keyed on **(query_id, batch_id)**, not batch_id alone:
    batch ids are only unique within one checkpoint lineage, so a second
    streaming query appending to the same target, or a restart with a
    fresh checkpoint (batch ids restart at 0), would otherwise find its
    ids already claimed and silently insert nothing (ADVICE r12). The
    query identity comes from the ``query_id`` option when declared,
    else the forwarded ``checkpointLocation`` (the exact scope batch ids
    live in), else a constant — in which case concurrent writers to one
    target must declare ``query_id`` themselves.

    Append-only by design: streaming 'complete' mode would truncate the
    target per epoch, which no sane PG sink wants — the foreachBatch
    MERGE path (``events_stream_merge_totals``) is the upsert shape.
    """

    def __init__(self, options, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "dpp_pg_copy streaming sink is append-only; use "
                "foreachBatch + MERGE for complete/update semantics"
            )
        self._conninfo = options["conninfo"]
        self._table = options["table"]
        self._schema = schema
        self._query_id = (
            options.get("query_id")
            or options.get("checkpointlocation")
            or options.get("checkpointLocation")
            or "default"
        )

    def write(self, iterator):
        return _stage_arrow_batches(
            self._conninfo, self._table, self._schema, iterator
        )

    def commit(self, messages, batchId):
        ledger = f"{self._table}__epochs"
        stages = [
            m.stage_table
            for m in messages
            if m is not None and m.stage_table is not None
        ]
        columns = ", ".join(_q_ident(f.name) for f in self._schema.fields)
        qid = _q_lit(self._query_id)
        guard = (
            f"NOT EXISTS (SELECT 1 FROM {_q_ident(ledger)} "
            f"WHERE batch_id = {int(batchId)} AND query_id = {qid})"
        )
        stmts = [
            pg_ddl(self._schema, self._table).replace(
                "CREATE TABLE", "CREATE TABLE IF NOT EXISTS", 1
            ),
            f"CREATE TABLE IF NOT EXISTS {_q_ident(ledger)} "
            f"(batch_id BIGINT, query_id TEXT NOT NULL DEFAULT 'default')",
            # Pre-(query_id) ledgers migrate in place: existing rows get
            # the 'default' identity, which is also the fallback key, so
            # an in-flight query upgrading mid-stream stays exactly-once.
            f"ALTER TABLE {_q_ident(ledger)} ADD COLUMN IF NOT EXISTS "
            f"query_id TEXT NOT NULL DEFAULT 'default'",
        ]
        for s in stages:
            stmts.append(
                f"INSERT INTO {_q_ident(self._table)} ({columns}) "
                f"SELECT {columns} FROM {_q_ident(s)} WHERE {guard}"
            )
        stmts.append(
            f"INSERT INTO {_q_ident(ledger)} (batch_id, query_id) "
            f"SELECT {int(batchId)}, {qid} WHERE {guard}"
        )
        stmts.extend(f"DROP TABLE {_q_ident(s)}" for s in stages)
        run_psql(self._conninfo, "; ".join(stmts))

    def abort(self, messages, batchId):
        for m in messages or []:
            if m is not None and m.stage_table is not None:
                try:
                    run_psql(
                        self._conninfo,
                        f'DROP TABLE IF EXISTS "{m.stage_table}"',
                    )
                except RuntimeError:
                    pass  # best-effort cleanup; stagings are namespaced


class PgCopyDataSource(DataSource):
    """``spark.read.format("dpp_pg_copy")`` — declarative PG-over-COPY."""

    @classmethod
    def name(cls) -> str:
        return "dpp_pg_copy"

    def _validated_options(self) -> dict:
        opts = dict(self.options)
        if not opts.get("conninfo"):
            raise ValueError("dpp_pg_copy requires a 'conninfo' option")
        table, query = opts.get("table"), opts.get("query")
        if bool(table) == bool(query):
            raise ValueError(
                "dpp_pg_copy requires exactly one of 'table' or 'query'"
            )
        if query and not opts.get("schema"):
            raise ValueError(
                "dpp_pg_copy 'query' reads need a declared 'schema' "
                "(information_schema reflection only covers tables)"
            )
        return opts

    def schema(self) -> str:
        opts = self._validated_options()
        declared = opts.get("schema")
        if declared:
            return declared
        return _reflect_schema(
            opts["conninfo"], opts["table"], opts.get("pg_schema")
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return _PgCopyReader(self._validated_options(), schema)

    def _write_options(self) -> dict:
        opts = dict(self.options)
        if not opts.get("conninfo"):
            raise ValueError("dpp_pg_copy requires a 'conninfo' option")
        if not opts.get("table"):
            raise ValueError("dpp_pg_copy writes need a 'table' option")
        return opts

    def writer(self, schema: T.StructType, overwrite: bool):
        return _PgCopyWriter(self._write_options(), schema, overwrite)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        return _PgCopyStreamWriter(self._write_options(), schema, overwrite)


__all__ = ["PgCopyDataSource"]
