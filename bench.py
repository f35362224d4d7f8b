#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE compact JSON line LAST (guaranteed <=1500 chars so the driver's
2000-char stdout tail can never truncate it — r15's fat line landed
``parsed: null`` in BENCH_r15.json):
  {"metric": "...", "value": N, "unit": "sec", "sf": ..., "value_single": N,
   "steal_pct": ..., "host_factor": ..., "queries": {...}, "detail": path}

The FULL record (queries, queries_single, calibration start/end probes) is
written to ``$BENCH_DETAIL_PATH`` (default ``BENCH_DETAIL.json`` beside this
file) — commit it per round. In ``BENCH_ALL=1`` mode the per-query map is
detail-file-only (400+ rows would overflow the tail again).

``value`` is the total wall-clock of all benched queries (each executed as a
noop-sink action so results never funnel through the driver). Set
``BENCH_ALL=1`` to time every registered query instead of the headline set.

Two methodologies are reported side by side so round-over-round deltas stay
honest (the r3->r4 comparison was muddied by a single-shot->best-of switch):

- ``value``/``queries``: per-query best-of-``BENCH_REPS`` (default 3) —
  robust to the >2x transient host-contention inflation observed on this
  machine; tracks the steady-state cost of the plan.
- ``value_single``/``queries_single``: the FIRST (cold-cache, post-warmup)
  rep of the same runs — directly comparable to any single-shot round.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_preparation_plugin_spark import get_spark, plans  # noqa: E402


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — window-quality signal.

    SCALE.md §0's recurring finding is that raw seconds are not
    comparable across host windows; r14 caught a marathon running in a
    16.9%-hypervisor-steal window that inflated 167 sub-second rows
    uniformly 1.44x. Recording the steal fraction INSIDE every bench
    record makes that hygiene check machine-readable after the fact.
    """
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(v) for v in parts]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except OSError:  # non-Linux: no signal, not an error
        return (0, 0)


#: Pinned in-run calibration probe (r14 verdict item 2): three fixed-plan
#: queries spanning the plan-shape axes (multi-join shuffle,
#: explode+band shuffle, gram-hits+interval merge), timed best-of-5 at
#: sf0.1 at the START and END of every bench run. ``host_factor``
#: (geomean of the measured/reference ratios) lets the judge DIVIDE OUT
#: the host-day factor instead of adjudicating it narratively — r14's
#: 0%-steal windows still drifted x1.25-1.31 across days. Probes are
#: deliberately 1-2s rows: sub-second rows are scheduler-noise-dominated
#: (+/-15% observed). Reference values were produced by THIS protocol
#: (geomean of two same-session calibrate() runs), local[32], noop sink,
#: ~0.05% steal, 2026-08-16 (r15). Session-to-session noise on this host
#: is ~+/-10-15% even at 0% steal, so read host_factor excursions beyond
#: ~1.15 as host signal and anything inside as noise.
CALIBRATION_REFERENCE = {
    "q3_shipping_priority": 0.803,  # multi-join + shuffle + top-k
    "dedup_minhash_lsh_pairs": 1.421,  # explode + hash + band shuffle
    "dedup_duplicate_spans": 1.215,  # gram hits + interval merge window
}
CALIBRATION_SF_DIR = "/root/testdata/sf0.1"
CALIBRATION_REPS = 5


def calibrate(spark, run) -> dict | None:
    """Best-of-N the pinned probes; ratio each against its committed
    reference; geomean the ratios into one host_factor.

    Returns None (with a stderr warning) when the pinned calibration
    fixture is absent on this host — calibration is a cross-round
    comparability aid, never a prerequisite for timing anything.
    """
    import math

    if not Path(CALIBRATION_SF_DIR).is_dir():
        print(
            f"bench: calibration fixture {CALIBRATION_SF_DIR} absent; "
            "skipping calibration (host_factor will be null)",
            file=sys.stderr,
        )
        return None

    best: dict[str, float] = {}
    for name in CALIBRATION_REFERENCE:
        builder = plans.QUERIES[name].builder
        # Warm at the CALIBRATION scale: codegen/JIT for these plans
        # only fully warms on the real input, and a cold first rep
        # inflates the probe by ~1.5x on sub-second rows.
        run(builder(spark, CALIBRATION_SF_DIR))
        b = float("inf")
        for _ in range(CALIBRATION_REPS):
            t0 = time.perf_counter()
            run(builder(spark, CALIBRATION_SF_DIR))
            b = min(b, time.perf_counter() - t0)
        best[name] = round(b, 4)
    ratios = {
        n: round(best[n] / CALIBRATION_REFERENCE[n], 3) for n in best
    }
    host_factor = round(
        math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios)), 3
    )
    return {"sec": best, "ratio": ratios, "host_factor": host_factor}


def calibrate_cold() -> dict | None:
    """Run the pinned calibration block in a FRESH subprocess (cold JVM,
    cold JIT) and return its record.

    VERDICT r16 #2: the in-session END probe is polluted by in-run JIT
    warmth — after a 400-query marathon the probes re-run up to ~45%
    faster than the committed reference *because the session is warm*,
    not because the host sped up, so ``host_factor`` under-corrects.
    The START probe is honest (the session has just started — the same
    cold conditions the reference values were measured under); running
    the end probe in its own subprocess restores that symmetry. The
    in-session end probe is still recorded (``end_warm``) so the
    r14-r16 records stay interpretable against the old methodology.
    """
    import subprocess

    if not Path(CALIBRATION_SF_DIR).is_dir():
        return None
    env = dict(os.environ)
    env["BENCH_CALIBRATE_ONLY"] = "1"
    try:
        out = subprocess.run(
            [sys.executable, str(Path(__file__).resolve())],
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])
    except Exception as exc:  # calibration is an aid, never a blocker
        print(f"bench: cold end-probe failed ({exc!r})", file=sys.stderr)
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark(app_name="dpp-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    if os.environ.get("BENCH_CALIBRATE_ONLY") == "1":
        # Internal mode for the fresh-subprocess end probe: run ONLY the
        # pinned calibration block and print its record as the last line.
        def _run(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        print(json.dumps(calibrate(spark, _run)))
        return

    names = [
        n
        for n, q in plans.QUERIES.items()
        if q.bench or os.environ.get("BENCH_ALL") == "1"
    ]

    def run(df) -> None:
        # noop sink: executes the whole plan JVM-side, writes nothing,
        # never funnels results through the driver.
        df.write.format("noop").mode("overwrite").save()

    # Repetitions per query (best-of): transient machine contention has
    # been observed to inflate single-shot wall clocks >2x on this host;
    # the minimum of a few runs recovers the steady-state cost of the
    # plan, which is what this benchmark is meant to track. BENCH_ALL
    # stays single-shot (it times 100+ queries; aggregate trends matter
    # there, not per-query precision).
    reps = 1 if os.environ.get("BENCH_ALL") == "1" else int(
        os.environ.get("BENCH_REPS", "3")
    )

    load0 = os.getloadavg()[0]
    skip_calib = os.environ.get("BENCH_NO_CALIBRATION") == "1"
    calib_start = None if skip_calib else calibrate(spark, run)
    # Steal window opens AFTER the start probe and closes BEFORE the end
    # probe, so calibration work never dilutes the dirty-window signal
    # for the timed queries themselves.
    steal0, total0 = _cpu_ticks()
    timings: dict[str, float] = {}
    singles: dict[str, float] = {}
    for name in names:
        builder = plans.QUERIES[name].builder
        # Warm once at tiny scale so JVM/codegen warmup doesn't pollute t0.
        if os.environ.get("BENCH_NO_WARMUP") != "1":
            run(builder(spark, "/root/testdata/sf0.001"))
        best = float("inf")
        first = None
        for _ in range(reps):
            start = time.perf_counter()
            run(builder(spark, sf_dir))
            elapsed = time.perf_counter() - start
            if first is None:
                first = elapsed
            best = min(best, elapsed)
        timings[name] = round(best, 3)
        singles[name] = round(first, 3)

    steal1, total1 = _cpu_ticks()
    # End probes, both methodologies (r17): the in-session probe
    # (``end_warm``) keeps r14-r16 comparability; the fresh-subprocess
    # probe (``end``) is the honest one — cold JVM/JIT like the start
    # probe and the committed reference, so host_factor measures the
    # HOST, not session warmth (VERDICT r16 #2).
    calib_end_warm = None if skip_calib else calibrate(spark, run)
    calib_end = None if skip_calib else calibrate_cold()
    total = round(sum(timings.values()), 3)
    total_single = round(sum(singles.values()), 3)
    dt = total1 - total0
    steal_pct = round(100.0 * (steal1 - steal0) / dt, 2) if dt > 0 else None
    calibration = None
    host_factor = None
    if calib_start is not None:
        # A failed cold end probe leaves ``end`` and ``host_factor`` null:
        # the warm probe measures session warmth, not the host.
        if calib_end is not None:
            host_factor = round(
                (calib_start["host_factor"] * calib_end["host_factor"])
                ** 0.5,
                3,
            )
        calibration = {
            "reference_sec": CALIBRATION_REFERENCE,
            "reference_window": "r15 2026-08-16 best-of-5 at 0.04% steal",
            "start": calib_start,
            "end": calib_end,
            "end_warm": calib_end_warm,
            # One number to divide raw seconds by when comparing rounds
            # (start + cold-subprocess end since r17).
            "host_factor": host_factor,
        }

    # Full per-query detail goes to a committed file; the driver's stdout
    # capture keeps only the LAST 2000 chars, and r15's single fat JSON
    # line (queries + queries_single + calibration) overflowed it and
    # landed `parsed: null` in BENCH_r15.json. The printed line below is
    # the compact summary (budget <1500 chars) and is printed LAST.
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "value_single": total_single,
        "queries_single": singles,
        # Hypervisor-steal % over the timed-query window (calibration
        # probes excluded): >~3% means the window is dirty and raw
        # seconds are not comparable (SCALE.md §0).
        "steal_pct": steal_pct,
        "loadavg_start": load0,
        # Pinned-probe calibration: divide raw seconds by host_factor
        # before comparing across rounds.
        "calibration": calibration,
    }
    # Mode-specific default: a BENCH_ALL run must never silently
    # overwrite the committed headline detail with a 400-row record of
    # a different methodology.
    default_detail = (
        "BENCH_ALL_DETAIL.json"
        if os.environ.get("BENCH_ALL") == "1"
        else "BENCH_DETAIL.json"
    )
    detail_path = os.environ.get(
        "BENCH_DETAIL_PATH",
        str(Path(__file__).resolve().parent / default_detail),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
        f.write("\n")

    compact = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "value_single": total_single,
        "steal_pct": steal_pct,
        "host_factor": host_factor,
        "cpus": spark.sparkContext.defaultParallelism,
        "n_queries": len(timings),
        "detail": detail_path,
    }
    if os.environ.get("BENCH_ALL") != "1":
        # Headline mode: ~21 rows fits comfortably; BENCH_ALL's 400+ rows
        # would overflow the driver tail again, so they stay detail-only.
        compact["queries"] = timings
    line = json.dumps(compact)
    if len(line) > 1500:  # hard guarantee the driver tail can't truncate
        compact.pop("queries", None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
