#!/usr/bin/env python3
"""Benchmark entry point: stage inputs, run one workload, print its metrics.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 60 --trace 0

Run from the repository root. Each run stages its inputs from ``--seed``
(``gen.py``), then launches the program (``workload.py``) in a fresh process
group with a private ``TMPDIR``, Spark warehouse, local dir, JVM temp dir and
checkpoint dirs under ``.perfbench_run/``, all deleted at exit. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
RUN_ROOT = ROOT / ".perfbench_run"
OUT_ROOT = ROOT / ".perfbench_out"

#: Every run must end within this many seconds, set-up included.
RUN_BUDGET_S = 170

#: Micro-batches (one events file each) per ``etl_pipeline`` pass.
ETL_EVENT_FILES = 4

#: Discarded warm-up passes, then timed warm passes (``pass_s`` is their
#: median), per run. ``query_mix`` affords one timed pass: its cold pass
#: alone takes 25-30 s. A traced run makes three timed warm passes
#: instead: untraced, traced, untraced.
WARMUP_PASSES = {"etl_pipeline": 1, "query_mix": 1}
WARM_PASSES = {"etl_pipeline": 2, "query_mix": 1}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _jvms_of_earlier_runs() -> list[int]:
    """PIDs whose command line names this checkout's run directory: a JVM
    or Python worker left behind by an earlier run."""
    marker = str(RUN_ROOT).encode()
    pids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit() or int(entry.name) == os.getpid():
            continue
        try:
            if marker in (entry / "cmdline").read_bytes():
                pids.append(int(entry.name))
        except OSError:
            continue
    return pids


def _wait_for_earlier_runs(timeout_s: float) -> None:
    end = time.time() + timeout_s
    while _jvms_of_earlier_runs():
        if time.time() > end:
            _fail(f"processes of an earlier run are still alive: {_jvms_of_earlier_runs()}")
        time.sleep(0.5)


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill the program's process group (Python, the JVM and its Python
    workers) and wait until every member has ended. The program stops its
    Spark session before it exits, so nothing is lost by SIGKILL."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.time() + 30
    while time.time() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    _fail(f"process group {proc.pid} did not end after SIGKILL")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start_wall = time.time()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "data_preparation_plugin_spark" / "__init__.py").is_file():
        _fail("run from the repository root: data_preparation_plugin_spark/ not found")
    if not (ROOT / "tests" / "conftest.py").is_file():
        _fail("tests/conftest.py (the oracle canonicalisation) not found")
    spec = json.loads(spec_path.read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        _fail(f"unknown workload {args.workload!r}; expected one of {names}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    _wait_for_earlier_runs(60)
    run_dir = RUN_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    proc = None
    try:
        for sub in ("tmp", "local", "warehouse", "checkpoints"):
            (run_dir / sub).mkdir(parents=True)
        sys.path.insert(0, str(HERE))
        import gen

        if args.workload == "etl_pipeline":
            inputs = gen.stage_etl(run_dir / "inputs", args.seed, ETL_EVENT_FILES)
        else:
            inputs = gen.stage_queries(run_dir / "inputs", args.seed)

        OUT_ROOT.mkdir(exist_ok=True)
        config = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "warmup_passes": WARMUP_PASSES[args.workload],
            "warm_passes": 3 if args.trace else WARM_PASSES[args.workload],
            "trace": bool(args.trace),
            "run_dir": str(run_dir),
            "inputs": inputs,
            "result_path": str(run_dir / "result.json"),
            "trace_path": str(OUT_ROOT / f"{args.workload}-seed{args.seed}-trace.json"),
            "budget_s": RUN_BUDGET_S - 20,
        }
        cpus = str(len(os.sched_getaffinity(0)))
        env = dict(
            os.environ,
            TMPDIR=str(run_dir / "tmp"),
            SPARK_LOCAL_DIRS=str(run_dir / "local"),
            SPARK_GRAFT_CPUS=cpus,
            PYTHONPATH=os.pathsep.join(
                [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
            ),
            PYSPARK_PYTHON=sys.executable,
            TZ="UTC",
        )
        env.pop("SPARK_GRAFT_MASTER", None)
        config["launch_wall"] = time.time()
        (run_dir / "config.json").write_text(json.dumps(config))
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "workload.py"), str(run_dir / "config.json")],
            cwd=str(run_dir),
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, start_wall + RUN_BUDGET_S - time.time()))
        except subprocess.TimeoutExpired:
            _stop_group(proc)
            _fail(f"{args.workload} exceeded the {RUN_BUDGET_S}s run budget")
        _stop_group(proc)
        result_path = Path(config["result_path"])
        if code != 0 or not result_path.is_file():
            _fail(f"{args.workload} program exited with code {code} and no result")
        res = json.loads(result_path.read_text())
    finally:
        if proc is not None and proc.returncode is None:
            _stop_group(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        if RUN_ROOT.is_dir() and not any(RUN_ROOT.iterdir()):
            RUN_ROOT.rmdir()

    if args.trace:
        values = res["layer"]
    else:
        values = {
            "setup_s": res["ready_wall"] - config["launch_wall"],
            "cold_pass_s": res["cold_pass_s"],
            "pass_s": res["pass_s"],
            "rows_per_s": res["input_rows"] / res["pass_s"],
        }
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": res["input_rows"],
        "env": res["env"],
        "checks": res["checks"],
        "passes": res["passes"],
    }
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
