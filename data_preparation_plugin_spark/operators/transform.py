"""Transform pipeline operators (the README's vocabulary, §2.B).

The reference documents its transform step as "filtering, calculating new
columns, formatting columns, regex extraction, joins" (``README.md:11-17``)
executed by pandas or Postgres. Each operator here wraps the corresponding
DataFrame primitive: config in the constructor, a DataFrame-in /
DataFrame-out ``apply``, and an ``execute(spark)`` that reads a source
table and writes a destination table for pipeline use.

Everything stays declarative (Column expressions / SQL strings), so
Catalyst gets the whole plan: filters written here push into scans, join
strategies are chosen from stats + AQE, and no operator materializes on
the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_preparation_plugin_spark.operators.base import BaseOperator, _quote


def _to_destination(
    spark: SparkSession, out: DataFrame, destination: str | None, mode: str
) -> DataFrame:
    """``out`` itself, or — with a ``destination`` — ``out`` written there
    as a parquet table and the table read back."""
    if not destination:
        return out
    out.write.mode(mode).format("parquet").saveAsTable(_quote(destination))
    return spark.table(_quote(destination))


class TransformOperator(BaseOperator):
    """Shared table-in/table-out plumbing; subclasses implement ``apply``."""

    def __init__(
        self,
        source: str | None = None,
        destination: str | None = None,
        mode: str = "overwrite",
        **kwargs,
    ) -> None:
        super().__init__(**kwargs)
        self.source = source
        self.destination = destination
        self.mode = mode

    def apply(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def execute(self, spark: SparkSession) -> DataFrame:
        if self.source is None:
            raise ValueError(f"{self.task_id}: source table required")
        out = self.apply(spark.table(_quote(self.source)))
        return _to_destination(spark, out, self.destination, self.mode)


class FilterOperator(TransformOperator):
    """Row predicate (README.md:13). ``condition`` is a SQL boolean expr."""

    def __init__(self, condition: str, **kwargs) -> None:
        super().__init__(**kwargs)
        self.condition = condition

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self.condition)


class ProjectOperator(TransformOperator):
    """Column keep-list (README.md:102-110)."""

    def __init__(self, columns: Sequence[str], **kwargs) -> None:
        super().__init__(**kwargs)
        self.columns = list(columns)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(*self.columns)


class ComputeOperator(TransformOperator):
    """Computed/formatted columns (README.md:14,71): name -> SQL expr."""

    def __init__(self, columns: dict[str, str], **kwargs) -> None:
        super().__init__(**kwargs)
        self.columns = columns

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumns({name: F.expr(e) for name, e in self.columns.items()})


class RegexExtractOperator(TransformOperator):
    """Regex extraction into a new column (README.md:15)."""

    def __init__(
        self, column: str, pattern: str, output: str, group: int = 1, **kwargs
    ) -> None:
        super().__init__(**kwargs)
        self.column = column
        self.pattern = pattern
        self.output = output
        self.group = group

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.output, F.regexp_extract(self.column, self.pattern, self.group)
        )


class JoinOperator(BaseOperator):
    """Join two tables (README.md:126-171), any join type.

    ``on`` is a list of column names (equi-join; Spark collapses duplicate
    key columns like the README's merge_dtype intends) or a SQL condition
    string for theta joins. ``broadcast_right`` marks a known-small build
    side explicitly — at 100 TB never rely on stats alone for dims.
    """

    def __init__(
        self,
        left: str,
        right: str,
        on: Sequence[str] | str,
        how: str = "inner",
        destination: str | None = None,
        broadcast_right: bool = False,
        mode: str = "overwrite",
        **kwargs,
    ) -> None:
        super().__init__(**kwargs)
        self.left = left
        self.right = right
        self.on = on
        self.how = how
        self.destination = destination
        self.broadcast_right = broadcast_right
        self.mode = mode

    def execute(self, spark: SparkSession) -> DataFrame:
        left = spark.table(_quote(self.left))
        right = spark.table(_quote(self.right))
        if self.broadcast_right:
            right = F.broadcast(right)
        on = self.on if not isinstance(self.on, str) else F.expr(self.on)
        out = left.join(right, on=on, how=self.how)
        return _to_destination(spark, out, self.destination, self.mode)


class AggregateOperator(TransformOperator):
    """Group-by aggregation: ``aggregates`` maps output name -> SQL expr."""

    def __init__(
        self, group_by: Sequence[str], aggregates: dict[str, str], **kwargs
    ) -> None:
        super().__init__(**kwargs)
        self.group_by = list(group_by)
        self.aggregates = aggregates

    def apply(self, df: DataFrame) -> DataFrame:
        aggs = [F.expr(e).alias(name) for name, e in self.aggregates.items()]
        return df.groupBy(*self.group_by).agg(*aggs)


class WindowOperator(TransformOperator):
    """Analytic columns over one window spec: name -> aggregate/rank expr."""

    def __init__(
        self,
        partition_by: Sequence[str],
        order_by: Sequence[str],
        columns: dict[str, str],
        **kwargs,
    ) -> None:
        super().__init__(**kwargs)
        self.partition_by = list(partition_by)
        self.order_by = list(order_by)
        self.columns = columns

    def apply(self, df: DataFrame) -> DataFrame:
        win = Window.partitionBy(*self.partition_by).orderBy(*self.order_by)
        return df.withColumns(
            {name: F.expr(e).over(win) for name, e in self.columns.items()}
        )


class DedupOperator(TransformOperator):
    """Keyed dedup with a deterministic keeper (first by ``order_by``).

    ``dropDuplicates`` keeps an arbitrary row — unacceptable for
    reproducible pipelines — so this always uses the row_number idiom
    (SURVEY.md §2.B dedup; one shuffle on the key columns).
    """

    def __init__(
        self, keys: Sequence[str], order_by: Sequence[str], **kwargs
    ) -> None:
        super().__init__(**kwargs)
        self.keys = list(keys)
        self.order_by = list(order_by)

    def apply(self, df: DataFrame) -> DataFrame:
        win = Window.partitionBy(*self.keys).orderBy(*self.order_by)
        return (
            df.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


class SortLimitOperator(TransformOperator):
    """Deterministic top-k (ORDER BY + LIMIT -> TakeOrderedAndProject).

    ``order_by`` entries may end in ``ASC``/``DESC`` (SQL style); a bare
    ``F.expr("v DESC")`` would silently parse DESC as an alias.
    """

    def __init__(self, order_by: Sequence[str], limit: int, **kwargs) -> None:
        super().__init__(**kwargs)
        self.order_by = list(order_by)
        self.limit = limit

    @staticmethod
    def _sort_col(spec: str):
        expr, _, direction = spec.rpartition(" ")
        if expr and direction.upper() in ("ASC", "DESC"):
            col = F.expr(expr)
            return col.desc() if direction.upper() == "DESC" else col.asc()
        return F.expr(spec)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.orderBy(*[self._sort_col(e) for e in self.order_by]).limit(
            self.limit
        )


class UnionOperator(BaseOperator):
    """UNION ALL by column name across tables (+ optional distinct)."""

    def __init__(
        self,
        sources: Sequence[str],
        destination: str | None = None,
        distinct: bool = False,
        mode: str = "overwrite",
        **kwargs,
    ) -> None:
        super().__init__(**kwargs)
        self.sources = list(sources)
        self.destination = destination
        self.distinct = distinct
        self.mode = mode

    def execute(self, spark: SparkSession) -> DataFrame:
        dfs = [spark.table(_quote(s)) for s in self.sources]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        if self.distinct:
            out = out.distinct()
        return _to_destination(spark, out, self.destination, self.mode)


class SqlOperator(BaseOperator):
    """Raw Spark SQL passthrough — parity with the reference's use of
    ``PostgresOperator`` SQL scripts (``operators/copy.py:4``)."""

    def __init__(self, sql: str, **kwargs) -> None:
        super().__init__(**kwargs)
        self.sql = sql

    def execute(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.sql)
