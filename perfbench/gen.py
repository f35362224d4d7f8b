"""Stage the benchmark inputs from the vendored test fixtures.

``fixtures/`` holds byte-for-byte copies of the engine's test fixtures
(TESTDATA.md, seed 42): the ``sf0.01`` tables the reference DAG reads and
every ``sf0.001`` table the registered queries read. Staging checks each
file against its SHA-256 below, then writes this run's inputs. Content is
the fixtures'; the run seed only permutes row placement and the
micro-batch file boundaries of the events feed, so every seed shares one
set of expected answers.

Staging writes with pyarrow only: no Spark runs before the program starts.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

FIXTURES = Path(__file__).resolve().parent / "fixtures"

FIXTURE_SHA256 = {
    "sf0.01/lineitem": "4838c2d835f3035ec106897d3659af94bb76dd8245401f0e937f9a60fab282ee",
    "sf0.01/orders": "5676f9128455769b5b05d42c22f98cf2ce9ee7dc965a02c85a3813127dee6ba8",
    "sf0.01/customer": "a7748ced9c4d47fe054c27a2805636a6c034e95abea9eef49cf9b5fd1d1a4fcb",
    "sf0.01/nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "sf0.01/events": "bb5b2c28f8905d984c38279d3894d4db0edc24cb025763bfdfada8adc58789c0",
    "sf0.001/region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "sf0.001/nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "sf0.001/supplier": "6a61c8ceec13a7bf75e5ff84d6ac43ff5002921a3dba023cae109f2239d32073",
    "sf0.001/customer": "14cc0a87578999fcb79267bfa2c900f0104df23785151a7274297d1aea7236d4",
    "sf0.001/part": "fa2e28382bd1552ae9268cd5a243552ab43f7de7dadee5a32be3e82c30df8aa8",
    "sf0.001/orders": "1c313e7a580f267933bc45c636774722dfeaad27d0b9c2f09192ce9beddd1c76",
    "sf0.001/lineitem": "104501c514a4f24eb4ef0431eeb7cc95dd2b78b516d01b9d7be62c9132165c52",
    "sf0.001/events": "7fd4b9d6277e78d4552e69475995d203a9e38aa4cc914d87cb79b0f9bd145a55",
    "sf0.001/documents": "dae477afb99976de4d51a57a650a5af1d3d0c3593bcf7195a77a6b068ae867bc",
    "sf0.001/embeddings": "a3177c59491c14cc2ad432cd53bedaa8040fedf382f4cdb26e0563ec89179a41",
}

#: CSV tables of the reference DAG (sf0.01).
ETL_TABLES = ("lineitem", "orders", "customer", "nation")

#: Tables the registered headline queries read (sf0.001, TESTDATA.md layout).
QUERY_TABLES = ("region", "nation", "supplier", "customer", "part", "orders",
                "lineitem", "events", "documents", "embeddings")


def fixture(scale: str, name: str) -> pa.Table:
    """One vendored fixture table, refused if its bytes differ from the
    recorded copy."""
    key = f"{scale}/{name}"
    path = FIXTURES / f"{key}.parquet"
    if hashlib.sha256(path.read_bytes()).hexdigest() != FIXTURE_SHA256[key]:
        raise ValueError(f"fixture {key} differs from its recorded SHA-256")
    # Read from the path: pyarrow 16 can abort at interpreter exit after
    # reading parquet from an in-memory buffer.
    return pq.read_table(str(path))


def _permuted(table: pa.Table, rng) -> pa.Table:
    return table.take(rng.permutation(table.num_rows))


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _csv_ready(table: pa.Table) -> pa.Table:
    """Timestamps as ``yyyy-MM-dd HH:mm:ss`` text, the one CSV spelling
    both Spark's reader and DuckDB's parse without options (the fixtures'
    TPC-H timestamps are whole days)."""
    cols = []
    for name, col in zip(table.column_names, table.columns):
        if pa.types.is_timestamp(col.type):
            vals = col.to_numpy().astype("datetime64[s]").astype(str)
            col = pa.array(np.char.replace(vals, "T", " "))
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def stage_etl(root: Path, seed: int, n_event_files: int) -> dict:
    """CSV inputs of the reference DAG plus a time-ordered events feed."""
    rng = np.random.default_rng([seed, 1])
    rows = {}
    for name in ETL_TABLES:
        t = _csv_ready(_permuted(fixture("sf0.01", name), rng))
        d = root / name
        d.mkdir(parents=True)
        parts = 4 if name == "lineitem" else 1
        bounds = np.linspace(0, t.num_rows, parts + 1).astype(int)
        for i in range(parts):
            pacsv.write_csv(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                            str(d / f"part-{i:03d}.csv"))
        rows[name] = t.num_rows

    ev = fixture("sf0.01", "events")
    ev = ev.take(pc.sort_indices(ev, [("ts", "ascending"), ("event_id", "ascending")]))
    # Seed-chosen file boundaries over the time-ordered feed, each within
    # 10% of a file's share of an even split, so every seed replays
    # micro-batches of about the same size; rows inside a file are shuffled.
    share = ev.num_rows / n_event_files
    cuts = np.arange(1, n_event_files) * share + rng.uniform(-0.1, 0.1, n_event_files - 1) * share
    bounds = np.concatenate([[0], cuts.astype(int), [ev.num_rows]])
    edir = root / "events"
    edir.mkdir()
    base_mtime = 1_700_000_000
    for i in range(n_event_files):
        chunk = ev.slice(bounds[i], bounds[i + 1] - bounds[i])
        f = edir / f"events-{i:04d}.parquet"
        pq.write_table(_permuted(chunk, rng), str(f))
        # The file source orders by modification time: pin it to the
        # file's place in the feed.
        os.utime(f, (base_mtime + i, base_mtime + i))
    rows["events"] = ev.num_rows
    return {
        "dir": str(root),
        "rows": rows,
        "input_rows": sum(rows.values()),
        "input_bytes": _dir_bytes(root),
        "event_files": n_event_files,
    }


def stage_queries(root: Path, seed: int) -> dict:
    """One ``<table>.parquet`` per fixture table, rows in seed order."""
    rng = np.random.default_rng([seed, 2])
    root.mkdir(parents=True)
    rows = {}
    for name in QUERY_TABLES:
        t = fixture("sf0.001", name)
        pq.write_table(_permuted(t, rng), str(root / f"{name}.parquet"))
        rows[name] = t.num_rows
    return {
        "dir": str(root),
        "rows": rows,
        "input_rows": sum(rows.values()),
        "input_bytes": _dir_bytes(root),
    }
