"""Intra-warehouse table copy.

Parity: ``CopyTableOperator`` (reference ``operators/copy.py:7-17``) runs
``DROP TABLE IF EXISTS dst; CREATE TABLE dst (LIKE src INCLUDING indexes);
INSERT INTO dst SELECT * FROM src``. Spark: a single CTAS. "INCLUDING
indexes" has no b-tree equivalent; the corresponding physical lever is the
table *layout*, so the operator re-applies the source's partition columns
to the destination when present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_preparation_plugin_spark.operators.base import BaseOperator, _quote


class CopyTableOperator(BaseOperator):
    """``CREATE OR REPLACE TABLE destination AS SELECT * FROM source``."""

    def __init__(self, source: str, destination: str, **kwargs) -> None:
        super().__init__(**kwargs)
        self.source = source
        self.destination = destination

    @staticmethod
    def _partition_columns(spark: SparkSession, table: str) -> list[str]:
        """Partition columns of ``table`` from DESCRIBE output, if any."""
        rows = spark.sql(f"DESCRIBE TABLE {table}").collect()
        names = [r.col_name for r in rows]
        if "# Partition Information" not in names:
            return []
        start = names.index("# Partition Information") + 2  # skip header row
        cols = []
        for r in rows[start:]:
            if not r.col_name or r.col_name.startswith("#"):
                break
            cols.append(r.col_name)
        return cols

    def execute(self, spark: SparkSession) -> DataFrame:
        src = _quote(self.source)
        dst = _quote(self.destination)
        cols = self._partition_columns(spark, src)
        partitioned = f" PARTITIONED BY ({', '.join(cols)})" if cols else ""
        # DROP + CTAS: the portable equivalent of the reference's
        # DROP + CREATE LIKE + INSERT, in one job instead of two statements
        # touching data.
        spark.sql(f"DROP TABLE IF EXISTS {dst}")
        spark.sql(
            f"CREATE TABLE {dst} USING parquet{partitioned} "
            f"AS SELECT * FROM {src}"
        )
        return spark.table(dst)
