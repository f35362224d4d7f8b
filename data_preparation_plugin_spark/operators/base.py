"""Operator base class and a minimal sequential Pipeline.

Parity: the reference operators are Airflow ``BaseOperator`` subclasses
whose entire behavior lives in ``execute`` (e.g.
``operators/download.py:8-22``). We keep that contract — construct with
config, run with ``execute(spark)`` — minus the scheduler coupling, so the
driver's tests (and any orchestrator) can run operators directly.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession


def _quote(name: str) -> str:
    """Backtick-quote each part of a (possibly qualified) table name."""
    return ".".join(f"`{p}`" for p in name.split("."))


class BaseOperator:
    """Config-at-construction, work-in-execute. Subclasses override
    :meth:`execute` and may return a value (e.g. a DataFrame) for chaining.
    """

    def __init__(self, task_id: str | None = None, **kwargs: Any) -> None:
        self.task_id = task_id or type(self).__name__
        # Tolerate orchestrator-specific kwargs the way Airflow operators
        # swallow **kwargs (reference: operators/download.py:10-13).
        self.extra_kwargs = kwargs

    def execute(self, spark: SparkSession):  # pragma: no cover - interface
        raise NotImplementedError

    def __repr__(self) -> str:
        return f"{type(self).__name__}(task_id={self.task_id!r})"


class Pipeline:
    """Run operators sequentially against one SparkSession.

    The reference's pipelines are Airflow DAGs (README.md:4-17: download →
    load → transform → join → dataset); this is the dependency-ordered
    execution of that shape without a scheduler. Results of each operator
    are collected by task_id for inspection.
    """

    def __init__(self, operators: list[BaseOperator]) -> None:
        self.operators = operators

    def run(self, spark: SparkSession) -> dict[str, Any]:
        results: dict[str, Any] = {}
        for op in self.operators:
            results[op.task_id] = op.execute(spark)
        return results
