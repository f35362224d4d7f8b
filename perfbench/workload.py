"""The measured program: one Spark application running one workload.

Launched by ``run.py`` in a fresh process (and process group) per run, with
a config file naming the staged inputs and this run's private directories.
It reports when the session is ready, runs a cold pass, any discarded
warm-up passes and the timed warm passes, checks the outputs against
DuckDB outside the timed sections, and writes a JSON record for ``run.py``.

One caller, one operation at a time (a closed loop), at ``local[nproc]``.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import random
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

from pyspark.sql import functions as F  # noqa: E402

from data_preparation_plugin_spark import get_spark  # noqa: E402
from data_preparation_plugin_spark import plans  # noqa: E402
from data_preparation_plugin_spark.dataset import Dataset  # noqa: E402
from data_preparation_plugin_spark.layout import write_partitioned  # noqa: E402
from data_preparation_plugin_spark.operators import (  # noqa: E402
    AggregateOperator,
    BaseOperator,
    ComputeOperator,
    CsvLoadOperator,
    DedupOperator,
    FilterOperator,
    JoinOperator,
    LoadSpec,
    Pipeline,
    RegexExtractOperator,
)
from data_preparation_plugin_spark.streaming import (  # noqa: E402
    dedup_within_watermark,
    events_stream,
    stream_to_table,
)

from bench import _cpu_ticks  # noqa: E402
from spans import Tracer  # noqa: E402

#: The 21 headline queries, frozen here so that flipping a registry flag
#: cannot change the workload.
QUERY_MIX = (
    "q1_pricing_summary", "sample_curriculum_order", "text_bm25_topk",
    "dedup_containment_pruned", "q3_shipping_priority", "q5_local_supplier",
    "q10_returned_items", "q12_priority_by_linestatus",
    "q18_large_volume_customer", "q7_volume_shipping",
    "q21_sole_late_supplier", "events_tumbling_hourly", "text_token_count",
    "text_quality_classifier", "dedup_exact_fingerprint",
    "dedup_minhash_lsh_pairs", "dedup_duplicate_spans",
    "dedup_edit_distance_verify", "knn_bruteforce_cosine", "knn_pq_adc",
    "knn_ivf_pq",
)

ETL_TASKS = (
    "load_lineitem", "load_orders", "load_customer", "load_nation",
    "filter", "compute", "regex", "join_orders", "join_customer",
    "join_nation", "dedup", "aggregate",
)

ETL_DDL = {
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
}

ETL_FILTER = (
    "l_shipdate < TIMESTAMP '2001-01-01 00:00:00' AND l_quantity <= 45"
)
ETL_COMPUTE = {
    # Integer cents keep the sums exact in both engines.
    "revenue_cents": "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * CAST(round(100 - l_discount * 100) AS BIGINT)",
    "ship_year": "year(l_shipdate)",
}
ETL_REGEX = ("o_orderpriority", "^([0-9])-", "o_priority")
# The fixture's lineitem repeats (l_orderkey, l_linenumber) keys; the
# extra order columns make the keeper unique within each key.
ETL_DEDUP = (["l_orderkey", "l_linenumber"], ["l_shipdate", "l_partkey", "l_suppkey"])
ETL_GROUP = ["c_custkey", "c_name", "n_name", "ship_year"]
ETL_AGGS = {
    "n_lines": "count(*)",
    "revenue_cents": "sum(revenue_cents)",
    "qty": "sum(l_quantity)",
    "urgent_lines": "sum(CASE WHEN o_priority = '1' THEN 1 ELSE 0 END)",
}


def _duck_types(ddl: str) -> str:
    cols = []
    for part in ddl.split(","):
        name, typ = part.split()
        typ = {"STRING": "VARCHAR", "INT": "INTEGER"}.get(typ, typ)
        cols.append(f"'{name}': '{typ}'")
    return "{" + ", ".join(cols) + "}"


def etl_oracle_sql(inputs: str) -> str:
    """The whole DAG as one DuckDB query over the staged CSVs."""
    def src(t):
        return (
            f"read_csv('{inputs}/{t}/*.csv', header=true, "
            f"columns={_duck_types(ETL_DDL[t])}) AS {t}"
        )

    computed = ", ".join(f"{e} AS {n}" for n, e in ETL_COMPUTE.items())
    aggs = ", ".join(f"{e} AS {n}" for n, e in ETL_AGGS.items())
    col, pat, out = ETL_REGEX
    keys, order = ETL_DEDUP
    return f"""
    WITH lc AS (SELECT *, {computed} FROM {src('lineitem')} WHERE {ETL_FILTER}),
    o AS (SELECT *, regexp_extract({col}, '{pat}', 1) AS {out} FROM {src('orders')}),
    j AS (
        SELECT * FROM lc JOIN o ON l_orderkey = o_orderkey
        JOIN {src('customer')} ON o_custkey = c_custkey
        JOIN {src('nation')} ON c_nationkey = n_nationkey
        QUALIFY row_number() OVER (
            PARTITION BY {', '.join(keys)} ORDER BY {', '.join(order)}) = 1
    )
    SELECT {', '.join(ETL_GROUP)}, {aggs} FROM j GROUP BY ALL
    """


def _oracle():
    """DuckDB and the test suite's canonicalisation, imported only for the
    checks so that neither weighs on the session set-up time."""
    import duckdb

    spec = importlib.util.spec_from_file_location(
        "perfbench_conftest", ROOT / "tests" / "conftest.py"
    )
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    return duckdb.connect(), conftest.canonical_rows, conftest.duckdb_result


def digest(columns, rows) -> str:
    return hashlib.sha256(repr((columns, rows)).encode()).hexdigest()[:16]


def _percentile(values, q):
    if not values:
        return 0.0
    values = sorted(values)
    k = (len(values) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (k - lo)


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [
        p for p in path.rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    ]
    return len(files), sum(p.stat().st_size for p in files)


class EventIngestOperator(BaseOperator):
    """Replay the events feed one file per micro-batch into a catalog
    table: ``events_stream`` -> ``dedup_within_watermark`` ->
    ``stream_to_table``. Returns the finished query."""

    def __init__(self, source_dir: str, table: str, checkpoint_dir: str,
                 **kwargs) -> None:
        super().__init__(**kwargs)
        self.source_dir = source_dir
        self.table = table
        self.checkpoint_dir = checkpoint_dir

    def execute(self, spark):
        stream = dedup_within_watermark(
            events_stream(spark, self.source_dir, max_files_per_trigger=1)
        )
        return stream_to_table(stream, self.table, spark, self.checkpoint_dir)


class EtlPipeline:
    """The reference DAG through ``operators.Pipeline.run``, then the final
    dataset through ``Dataset.write_with_schema`` and
    ``layout.write_partitioned``."""

    db = "etl"

    def __init__(self, spark, tracer: Tracer, inputs: dict, run_dir: Path) -> None:
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.dir = inputs["dir"]
        self.run_dir = run_dir
        self.export = run_dir / "export" / "cust_year"
        self.ops_per_pass = len(ETL_TASKS) + inputs["event_files"] + 2

    def operators(self, pass_idx: int) -> list[BaseOperator]:
        d, db = self.dir, self.db
        ops: list[BaseOperator] = [
            CsvLoadOperator(
                LoadSpec(path=f"{d}/{t}", table=t, db_schema=db, format="csv",
                         schema=ETL_DDL[t], options={"header": "true"}),
                task_id=f"load_{t}",
            )
            for t in ("lineitem", "orders", "customer", "nation")
        ]
        ops.append(EventIngestOperator(
            f"{d}/events", f"{db}.events_sink",
            str(self.run_dir / "checkpoints" / f"pass{pass_idx}"),
            task_id="ingest_events",
        ))
        ops += [
            FilterOperator(ETL_FILTER, source=f"{db}.lineitem",
                           destination=f"{db}.lineitem_f", task_id="filter"),
            ComputeOperator(ETL_COMPUTE, source=f"{db}.lineitem_f",
                            destination=f"{db}.lineitem_c", task_id="compute"),
            RegexExtractOperator(*ETL_REGEX, source=f"{db}.orders",
                                 destination=f"{db}.orders_r", task_id="regex"),
            JoinOperator(f"{db}.lineitem_c", f"{db}.orders_r",
                         "l_orderkey = o_orderkey", destination=f"{db}.li_ord",
                         task_id="join_orders"),
            JoinOperator(f"{db}.li_ord", f"{db}.customer",
                         "o_custkey = c_custkey", destination=f"{db}.li_cust",
                         task_id="join_customer"),
            JoinOperator(f"{db}.li_cust", f"{db}.nation",
                         "c_nationkey = n_nationkey", broadcast_right=True,
                         destination=f"{db}.li_nat", task_id="join_nation"),
            DedupOperator(*ETL_DEDUP, source=f"{db}.li_nat", destination=f"{db}.li_dedup",
                          task_id="dedup"),
            AggregateOperator(ETL_GROUP, ETL_AGGS, source=f"{db}.li_dedup",
                              destination=f"{db}.cust_year",
                              task_id="aggregate"),
        ]
        return ops

    def _timed(self, op: BaseOperator, rec: dict):
        """Wrap ``op.execute`` so each operator call is timed (and traced)."""
        inner = op.execute
        layer = "streaming" if op.task_id == "ingest_events" else "operators"

        def execute(spark):
            t0 = time.perf_counter()
            with self.tracer.span(op.task_id, layer) as sp:
                result = inner(spark)
                if layer == "streaming":
                    self.tracer.adopt_group(sp, str(result.runId))
            rec["ops"][op.task_id] = time.perf_counter() - t0
            return result

        op.execute = execute

    def run_pass(self, idx: int, rec: dict) -> None:
        ops = self.operators(idx)
        for op in ops:
            self._timed(op, rec)
        results = Pipeline(ops).run(self.spark)
        progress = [json.loads(p.json) for p in results["ingest_events"].recentProgress]
        rec["batches"] = [p for p in progress if p["numInputRows"] > 0]
        rec["n_ops"] += len(ETL_TASKS) + len(rec["batches"])
        final = results["aggregate"]
        t0 = time.perf_counter()
        with self.tracer.span("write_with_schema", "dataset"):
            Dataset("dataset", schema=self.db, spark=self.spark).write_with_schema(final)
        rec["ops"]["write_with_schema"] = time.perf_counter() - t0
        rec["n_ops"] += 1
        t0 = time.perf_counter()
        with self.tracer.span("write_partitioned", "layout"):
            write_partitioned(
                self.spark.table(f"{self.db}.dataset"), str(self.export), ["ship_year"]
            )
        rec["ops"]["write_partitioned"] = time.perf_counter() - t0
        rec["n_ops"] += 1

    def check(self) -> dict:
        """Hash the outputs of the last pass against DuckDB over the same
        staged inputs. Returns {output: (ok, spark_digest, oracle_digest)}."""
        spark, db = self.spark, self.db
        con, canonical_rows, duckdb_result = _oracle()
        out = {}
        d_cols, d_rows = duckdb_result(con, etl_oracle_sql(self.dir))
        ds = spark.table(f"{db}.dataset")
        rows = [tuple(r) for r in ds.collect()]
        ids = sorted(r[ds.columns.index("id")] for r in rows)
        keep = [i for i, c in enumerate(ds.columns) if c != "id"]
        s_cols, s_rows = canonical_rows(
            [ds.columns[i] for i in keep], [tuple(r[i] for i in keep) for r in rows]
        )
        ok = (s_cols, s_rows) == (d_cols, d_rows) and ids == list(range(len(rows)))
        out["dataset"] = (ok, digest(s_cols, s_rows), digest(d_cols, d_rows))

        exp = spark.read.parquet(str(self.export))
        e_cols, e_rows = canonical_rows(exp.columns, [tuple(r) for r in exp.collect()])
        t_cols, t_rows = canonical_rows(ds.columns, rows)
        out["export"] = ((e_cols, e_rows) == (t_cols, t_rows),
                         digest(e_cols, e_rows), digest(t_cols, t_rows))

        sink = spark.table(f"{db}.events_sink").drop("_batch_id").withColumn(
            "ts", F.unix_micros("ts"))
        k_cols, k_rows = canonical_rows(sink.columns, [tuple(r) for r in sink.collect()])
        o_cols, o_rows = duckdb_result(con, (
            "SELECT DISTINCT event_id, epoch_us(ts) AS ts, user_id, event_type, "
            f"value, props FROM read_parquet('{self.dir}/events/*.parquet')"
        ))
        out["events_sink"] = ((k_cols, k_rows) == (o_cols, o_rows),
                              digest(k_cols, k_rows), digest(o_cols, o_rows))
        con.close()
        return out

    def layer_metrics(self, rec: dict) -> dict:
        by = {sp.name: sp for sp in rec["spans"]}
        m: dict[str, float] = {}
        op_spans = [by[t] for t in ETL_TASKS]
        for sp in op_spans:
            m[f"operators.{sp.name}.s"] = sp.seconds
            m[f"operators.{sp.name}.jobs"] = sp.jobs
        m["operators.executor_run_s"] = sum(s.executor_run_ms for s in op_spans) / 1e3
        m["operators.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in op_spans)
        m["operators.spill_bytes"] = sum(s.spill_bytes for s in op_spans)
        m["operators.bytes_written"] = sum(s.output_bytes for s in op_spans)
        ds, lay = by["write_with_schema"], by["write_partitioned"]
        m["dataset.write_with_schema_s"] = ds.seconds
        m["dataset.write_with_schema_jobs"] = ds.jobs
        m["dataset.bytes_written"] = ds.output_bytes
        m["layout.write_partitioned_s"] = lay.seconds
        m["layout.write_tasks"] = lay.tasks
        files, nbytes = _dir_stats(self.export)
        m["layout.files_written"] = files
        m["layout.bytes_written"] = nbytes

        ing = by["ingest_events"]
        batches = rec["batches"]

        def p50(key):
            return _percentile([b["durationMs"].get(key, 0) for b in batches], 0.5)

        m["streaming.batches"] = len(batches)
        m["streaming.add_batch_ms_p50"] = p50("addBatch")
        m["streaming.query_planning_ms_p50"] = p50("queryPlanning")
        m["streaming.latest_offset_ms_p50"] = p50("latestOffset")
        m["streaming.wal_commit_ms_p50"] = p50("walCommit")
        m["streaming.commit_offsets_ms_p50"] = p50("commitOffsets")
        trig = [b["durationMs"]["triggerExecution"] for b in batches]
        m["streaming.batch_p50_ms"] = _percentile(trig, 0.5)
        m["streaming.batch_p90_ms"] = _percentile(trig, 0.9)
        states = [b["stateOperators"][0] for b in batches if b["stateOperators"]]
        m["streaming.state_commit_ms_p50"] = _percentile(
            [s["commitTimeMs"] for s in states], 0.5)
        m["streaming.state_rows_total"] = states[-1]["numRowsTotal"] if states else 0
        m["streaming.state_memory_bytes"] = states[-1]["memoryUsedBytes"] if states else 0
        m["streaming.jobs_per_batch"] = ing.jobs / max(1, len(batches))
        db_dir = self.run_dir / "warehouse" / f"{self.db}.db"
        files, nbytes = _dir_stats(db_dir / "events_sink")
        m["streaming.files_written"] = files
        m["streaming.bytes_written"] = nbytes
        _, written = _dir_stats(db_dir)
        m["operators.out_bytes_per_in_byte"] = (
            written + m["layout.bytes_written"]) / self.inputs["input_bytes"]
        return m


class QueryMix:
    """The 21 headline registered queries, each built with its registry
    builder and sunk to ``noop``. The cold pass collects instead, for the
    oracle check: a scheduled job returns its rows."""

    def __init__(self, spark, tracer: Tracer, inputs: dict, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.names = list(QUERY_MIX)
        random.Random(seed).shuffle(self.names)
        self.ops_per_pass = len(QUERY_MIX)
        self.collected: dict[str, tuple] = {}

    def run_pass(self, idx: int, rec: dict) -> None:
        sc = self.spark.sparkContext
        cold = rec["kind"] == "cold"
        # The cold pass keeps the frozen order: first-call costs (JIT,
        # Python workers) land on whichever query runs first, so a seeded
        # order there would move cold_pass_s with the seed.
        for name in QUERY_MIX if cold else self.names:
            rec["n_ops"] += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"{name}.build", "plans"):
                    df = plans.QUERIES[name].builder(self.spark, self.inputs["dir"])
                if self.tracer.enabled:
                    with self.tracer.span(f"{name}.plan", "plans"):
                        df._jdf.queryExecution().executedPlan()
                with self.tracer.span(f"{name}.sink", "plans"):
                    if cold:
                        self.collected[name] = (df.columns, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # one failed query is one failed operation
                traceback.print_exc()
                rec["failed"] += 1
            rec["ops"][name] = time.perf_counter() - t0
        rec["persisted_rdds"] = sc._jsc.getPersistentRDDs().size()
        rec["cached_bytes"] = sum(
            i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()
        )

    def check(self) -> dict:
        con, canonical_rows, duckdb_result = _oracle()
        for t in plans.registry.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs['dir']}/{t}.parquet'"
            )
        out = {}
        # A query that raised in the cold pass is already counted failed.
        for name in (n for n in self.names if n in self.collected):
            s_cols, s_rows = canonical_rows(*self.collected[name])
            d_cols, d_rows = duckdb_result(con, plans.QUERIES[name].oracle)
            out[name] = ((s_cols, s_rows) == (d_cols, d_rows),
                         digest(s_cols, s_rows), digest(d_cols, d_rows))
        con.close()
        return out

    def layer_metrics(self, rec: dict) -> dict:
        by = {sp.name: sp for sp in rec["spans"]}
        m: dict[str, float] = {}
        spans = rec["spans"]
        for name in QUERY_MIX:
            b, s = by[f"{name}.build"], by[f"{name}.sink"]
            m[f"plans.{name}.build_s"] = b.seconds
            m[f"plans.{name}.sink_s"] = s.seconds
            m[f"plans.{name}.build_jobs"] = b.jobs
        builds = [s for s in spans if s.name.endswith(".build")]
        sinks = [s for s in spans if s.name.endswith(".sink")]
        m["plans.build_s"] = sum(s.seconds for s in builds)
        m["plans.sink_s"] = sum(s.seconds for s in sinks)
        m["plans.build_jobs"] = sum(s.jobs for s in builds)
        m["plans.sink_jobs"] = sum(s.jobs for s in sinks)
        m["plans.plan_s"] = sum(s.seconds for s in spans if s.name.endswith(".plan"))
        m["plans.executor_run_s"] = sum(s.executor_run_ms for s in spans) / 1e3
        m["plans.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in spans)
        m["plans.spill_bytes"] = sum(s.spill_bytes for s in spans)
        m["plans.persisted_rdds"] = rec["persisted_rdds"]
        m["plans.cached_bytes"] = rec["cached_bytes"]
        return m


def main(config: dict) -> None:
    workload, seed = config["workload"], config["seed"]
    seconds, trace = config["seconds"], config["trace"]
    deadline = config["launch_wall"] + config["budget_s"]
    run_dir = Path(config["run_dir"])

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        warehouse_dir=str(run_dir / "warehouse"),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        },
    )
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    ready_wall = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    tracer = Tracer(spark, f"{workload}-{seed}", enabled=False)
    if workload == "etl_pipeline":
        work = EtlPipeline(spark, tracer, config["inputs"], run_dir)
    else:
        work = QueryMix(spark, tracer, config["inputs"], seed)

    steal0, total0 = _cpu_ticks()
    load0 = os.getloadavg()[0]
    passes: list[dict] = []

    def one_pass(kind: str, traced: bool) -> dict:
        rec = {"idx": len(passes), "kind": kind, "traced": traced, "ops": {},
               "n_ops": 0, "failed": 0}
        tracer.enabled = traced
        first_span = len(tracer.spans)
        start = time.perf_counter()
        try:
            work.run_pass(rec["idx"], rec)
        except Exception:  # a pass that dies fails the rest of its ops
            traceback.print_exc()
            rec["failed"] += max(1, work.ops_per_pass - rec["n_ops"])
            rec["n_ops"] = max(rec["n_ops"], work.ops_per_pass)
        rec["seconds"] = time.perf_counter() - start
        tracer.enabled = False
        if traced:
            tracer.collect()
        rec["spans"] = tracer.spans[first_span:]
        passes.append(rec)
        print(f"perfbench: {workload} pass {rec['idx']} {kind}"
              f"{' traced' if traced else ''} {rec['seconds']:.3f}s "
              + json.dumps({k: round(v, 2) for k, v in rec["ops"].items()}),
              file=sys.stderr)
        return rec

    window = time.perf_counter()
    one_pass("cold", trace)
    for _ in range(config["warmup_passes"]):
        one_pass("warmup", False)
    for i in range(config["warm_passes"]):
        # A traced run brackets its traced pass with untraced ones, so the
        # JIT's drift across passes cancels out of the tracing overhead.
        rec = one_pass("warm", trace and i % 2 == 1)
        # --seconds (and the run budget) cap the measurement, once a traced
        # run has its three passes.
        if i + 1 >= (3 if trace else 1) and (
            time.perf_counter() - window >= seconds
            or time.time() + rec["seconds"] > deadline
        ):
            break
    steal1, total1 = _cpu_ticks()

    checks = work.check()
    warm = [p for p in passes if p["kind"] == "warm"]
    untraced = [p["seconds"] for p in warm if not p["traced"]]
    result = {
        "ready_wall": ready_wall,
        "cold_pass_s": passes[0]["seconds"],
        "pass_s": statistics.median(untraced) if untraced else None,
        "input_rows": config["inputs"]["input_rows"],
        "attempted": sum(p["n_ops"] for p in passes),
        "failed": sum(p["failed"] for p in passes)
        + sum(1 for ok, *_ in checks.values() if not ok),
        "checks": {k: list(v) for k, v in checks.items()},
        "passes": [
            {k: v for k, v in p.items() if k not in ("spans", "batches")}
            | {"batch_ms": [b["durationMs"]["triggerExecution"]
                            for b in p.get("batches", [])]}
            for p in passes
        ],
        "env": {
            "default_parallelism": sc.defaultParallelism,
            "spark_version": spark.version,
            "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg()[0],
        },
    }
    if trace:
        traced = [p for p in warm if p["traced"]]
        per_pass = [work.layer_metrics(p) for p in traced]
        layer = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        layer["session.get_spark_s"] = t1 - t0
        layer["session.first_job_s"] = t2 - t1
        # A traced pass also forces each query's executed plan, which the
        # sink then plans again; that extra planning is not tracing cost.
        layer["trace.overhead"] = statistics.median(
            p["seconds"] - sum(s.seconds for s in p["spans"] if s.name.endswith(".plan"))
            for p in traced
        ) / statistics.median(untraced)
        result["layer"] = layer
        tracer.dump(config["trace_path"], {"workload": workload, "seed": seed,
                                           "layer_metrics": layer})
    Path(config["result_path"]).write_text(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main(json.loads(Path(sys.argv[1]).read_text()))
