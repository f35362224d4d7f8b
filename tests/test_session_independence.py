"""Builders must work under a caller-provided vanilla SparkSession.

The driver builds its own ``SparkSession.builder.getOrCreate()`` — none of
the repo's ``session.py`` conf (UTC timezone, nanosAsLong, NTZ inference)
is preset. Round 1 failed ``window_lag_lead``/``join_asof`` exactly this
way (CORRECTNESS_r01.json). The ``vanilla_session_results`` fixture
reproduces such a caller's environment in a subprocess (vanilla session,
non-UTC JVM timezone); this test checks every oracle-checked query there
value-for-value against its DuckDB oracle. The same run's dtypes feed
``test_queries_parity.test_oracle_types_safe``.
"""

from __future__ import annotations

from data_preparation_plugin_spark import plans
from tests.conftest import canonical_rows


def test_builders_under_vanilla_non_utc_session(vanilla_session_results):
    # Every oracle-checkable query: a caller may run any of them, so all
    # of them must be session-proof.
    checked = [n for n, q in plans.QUERIES.items() if q.oracle is not None]
    assert sorted(vanilla_session_results) == sorted(checked)
    for name in checked:
        got = vanilla_session_results[name]
        d_cols, d_rows = got["oracle"]
        s_cols, s_rows = canonical_rows(got["columns"], got["rows"])
        assert s_cols == d_cols, f"{name}: columns {s_cols} vs {d_cols}"
        assert s_rows == d_rows, (
            f"{name}: vanilla-session values diverge from oracle; "
            f"first spark={s_rows[:2]} oracle={d_rows[:2]}"
        )
