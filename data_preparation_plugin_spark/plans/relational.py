"""Relational capability queries (SURVEY.md §2.B).

The reference's users reach filtering, computed columns, formatting, regex
extraction, joins (``README.md:11-17,159-164``) and the whole of analytic SQL
through PostgreSQL (``operators/copy.py:4`` passthrough). Each query here
exercises one slice of that surface natively on Spark, with a DuckDB oracle.

Scale notes apply to every query: filters/projections are declarative so
Catalyst pushes them into the Parquet scan; dimension joins (region, nation,
supplier, part at TPC-H ratios) sit under the broadcast threshold so the only
shuffles left are the ones the aggregation keys genuinely require; AQE
coalesces post-shuffle partitions and handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_preparation_plugin_spark.plans.registry import (
    int_ratio_round_sql,
    load_table,
    register,
)


# --------------------------------------------------------------------------
# Aggregation over a single fact table
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    category="aggregate",
    bench=True,
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(sum(l_quantity), 2) / count(*)                        AS avg_qty,
           round(sum(l_extendedprice), 2) / count(*)                   AS avg_price,
           round(sum(l_discount), 2) / count(*)                        AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 flavor: full-scan group-by with multiple aggregates.

    One shuffle on a 6-value grouping key; partial (map-side) aggregation
    does almost all the work, so the shuffle moves ~6 rows per task
    regardless of input size — the canonical 100 TB-safe aggregation shape.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # Averages as round(sum,2)/count: both engines then divide
            # *identical* doubles, so results are bit-identical — a plain
            # round(avg(x), n) can land on a half-way point where the two
            # engines' sum orders round apart.
            (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
            (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.round(F.sum("l_discount"), 2) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    category="aggregate",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 flavor: highly selective scan-filter-aggregate.

    All four predicates push down to the Parquet scan (row-group min/max
    pruning); the aggregate is a single global sum — no wide shuffle at all.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "agg_distinct",
    category="aggregate",
    oracle="""
    SELECT c_mktsegment,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*)                    AS n_customers,
           round(sum(c_acctbal), 2) / count(*) AS avg_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggregates (expand + two-phase agg)."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
        (F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1))).alias("avg_acctbal"),
    )


@register(
    "rollup_agg",
    category="aggregate",
    oracle="""
    SELECT n_name,
           c_mktsegment,
           round(sum(c_acctbal), 2) AS total_acctbal,
           count(*)                 AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (nation -> segment -> grand total).

    The nation dim broadcasts; the rollup expands each row to its grouping
    sets before one shuffle — same single-shuffle profile as a plain agg.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@register(
    "cube_agg",
    category="aggregate",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority: all 4 grouping-set combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "grouping_sets",
    category="aggregate",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL on a temp view."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag,
               l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --------------------------------------------------------------------------
# Filter / project / compute / format / regex (README.md:11-17)
# --------------------------------------------------------------------------


@register(
    "filter_compute",
    category="transform",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           CAST(year(o_orderdate) AS INTEGER)  AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           o_totalprice * 1.1                  AS price_with_fee,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END                 AS price_band
    FROM orders
    WHERE o_totalprice > 50000 AND o_orderstatus <> 'F'
    """,
)
def filter_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row filter + computed columns (README.md:13-14,71).

    The reference does this in pandas after a full-table fetch
    (``hooks/dataset.py:120-126``); here both predicates push down into the
    scan and the arithmetic runs in whole-stage codegen.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter((F.col("o_totalprice") > 50000) & (F.col("o_orderstatus") != "F"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            # No round(): both engines compute the identical double, and
            # rounding a half-way product diverges (Spark rounds the
            # shortest decimal repr, DuckDB the true binary value).
            (F.col("o_totalprice") * 1.1).alias("price_with_fee"),
            F.when(F.col("o_totalprice") >= 300000, "high")
            .when(F.col("o_totalprice") >= 100000, "mid")
            .otherwise("low")
            .alias("price_band"),
        )
    )


@register(
    "project_columns",
    category="transform",
    oracle="SELECT c_custkey, c_mktsegment FROM customer",
)
def project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column keep-list (README.md:102-110). Pruned down to a 2-column scan."""
    return load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")


@register(
    "regex_extract",
    category="transform",
    oracle=r"""
    SELECT c_custkey,
           regexp_extract(c_name, '#(\d+)$', 1)                   AS cust_num,
           CAST(regexp_extract(c_name, '#(\d+)$', 1) AS BIGINT)   AS cust_num_int
    FROM customer
    WHERE regexp_matches(c_name, '^Customer#')
    """,
)
def regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction into new columns (README.md:15)."""
    customer = load_table(spark, sf_dir, "customer")
    num = F.regexp_extract("c_name", r"#(\d+)$", 1)
    return customer.filter(F.col("c_name").rlike("^Customer#")).select(
        "c_custkey",
        num.alias("cust_num"),
        num.cast("long").alias("cust_num_int"),
    )


@register(
    "string_format",
    category="transform",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                          AS name_upper,
           lower(p_type)                          AS type_lower,
           concat(p_brand, ':', p_type)           AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0')  AS size_padded,
           substring(p_name, 1, 5)                AS name_prefix,
           replace(p_name, ' ', '_')              AS name_snake,
           length(p_name)                         AS name_len
    FROM part
    """,
)
def string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column formatting vocabulary (README.md:14): case, pad, concat, slice."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_type").alias("type_lower"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.length("p_name").cast("long").alias("name_len"),
    )


@register(
    "date_functions",
    category="transform",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(year(o_orderdate) AS INTEGER)     AS o_year,
           CAST(quarter(o_orderdate) AS INTEGER)  AS o_quarter,
           count(*)                               AS n_orders,
           round(sum(o_totalprice), 2)            AS total_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date parse/truncate/extract vocabulary over the order calendar."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            # F.trunc (DATE) + NTZ cast, not F.date_trunc: date_trunc
            # returns session-TZ TIMESTAMP, which shifts wall-clock under a
            # non-UTC caller session (caught by test_session_independence).
            F.trunc("o_orderdate", "month").cast("timestamp_ntz").alias(
                "order_month"
            ),
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
            "o_totalprice",
        )
        .groupBy("order_month", "o_year", "o_quarter")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# Joins (README.md:126-171 + full PG surface)
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    category="join",
    bench=True,
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 flavor: filtered 3-way join + agg + deterministic top-10.

    customer(filtered) broadcasts into orders, the orders->lineitem join
    shuffles on orderkey once, and the top-10 is a TakeOrderedAndProject —
    no global sort materialization.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp_ntz")
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier",
    category="join",
    bench=True,
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 flavor: 6-way star join, dims broadcast, one fact shuffle."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


#: Q10 revenue per line in exact integer units (cents x discount
#: hundredths): the summed BIGINT rounds to cents identically in both
#: engines, where a float sum's half-cent ties depended on summation order.
_Q10_UNITS = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * CAST(round((1 - l_discount) * 100) AS BIGINT)"
)


@register(
    "q10_returned_items",
    category="join",
    bench=True,
    oracle=f"""
    SELECT c_custkey,
           c_name,
           {int_ratio_round_sql(f"sum({_Q10_UNITS})", "10000", 2, "//")}
               AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 flavor: returned-item revenue by customer, top 20."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.expr(
                int_ratio_round_sql(f"sum({_Q10_UNITS})", "10000", 2, "div")
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "join_left",
    category="join",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey)                         AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2)  AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (count = 0)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@register(
    "join_semi",
    category="join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 200000
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one big order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders.filter(F.col("o_totalprice") > 200000),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_semi",
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    category="join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_full_outer",
    category="join",
    oracle="""
    WITH cust AS (
        SELECT c_nationkey AS nationkey, count(*) AS n_customers
        FROM customer GROUP BY 1
    ), supp AS (
        SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
        FROM supplier GROUP BY 1
    )
    SELECT coalesce(cust.nationkey, supp.nationkey) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cust = customer.groupBy(F.col("c_nationkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    supp = supplier.groupBy(F.col("s_nationkey").alias("sk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return cust.join(supp, cust.ck == supp.sk, "full").select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


#: Price bands for the range join — ONE constant feeds builder and
#: oracle so the band edges cannot drift between engines (the
#: STREAM_CMS_PARAMS lesson, ADVICE r13).
RANGE_BANDS = (
    ("small", 0.0, 100000.0),
    ("medium", 100000.0, 300000.0),
    ("large", 300000.0, 1e18),
)


@register(
    "join_range_band",
    category="join",
    oracle=f"""
    SELECT band_name,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    JOIN (VALUES {", ".join(
        f"('{n}', {lo}, {hi})" for n, lo, hi in RANGE_BANDS
    )}) AS bands(band_name, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_name
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join against a banding dimension.

    The band table is tiny, so Spark picks BroadcastNestedLoopJoin — the
    correct physical plan for a non-equi join with a broadcastable side; at
    100 TB the fact side streams through without any shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        list(RANGE_BANDS), ["band_name", "lo", "hi"]
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "exists_late_shipment",
    scale_note="unpruned fact-fact semi join by design (q4_order_priority is the pruned twin); sub-linear vs x8 input",
    category="join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def exists_late_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 flavor: semi join with a correlated date condition.

    Cost (SCALE_PROBE_r12): ×4.0 at the ×8 probe on a 0.71s ×1
    denominator (2.87s absolute) — unlike ``q4_order_priority`` there is
    no date prefilter, so the whole fact-fact semi join shuffles; the
    ratio is the one wide exchange emerging past the 32-core parallelism
    floor, still sub-linear in the ×8 input.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q4_order_priority",
    scale_note="0.5s x1 denominator — absolute x8 cost ~2s, parallelism-bound; date-pruned scan + left-semi",
    category="join",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: order-priority checking over one quarter.

    The spec correlates on l_commitdate < l_receiptdate; this schema
    carries only l_shipdate, so "late" is l_shipdate > o_orderdate + 30d —
    same plan shape (date-window scan + correlated-EXISTS decorrelated to a
    left-semi join + tiny group-by). The quarter filter prunes the orders
    scan before the shuffle; the semi join shuffles only (orderkey,
    orderdate, priority), never lineitem payload. Completes the q1-q22 set.

    Deliberate overlap: ``exists_late_shipment`` keeps the UNfiltered
    correlated-EXISTS shape (no date window — a different pushdown
    picture: nothing prunes the probe side), while this one is the
    spec-faithful Q4 with the quarter window pruning the build side.
    Both stay registered so the optimizer is pinned on both variants.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp_ntz"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "window_running",
    category="window",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_spend
    FROM orders
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend (analytic frame, pandas-cumsum idiom)."""
    orders = load_table(spark, sf_dir, "orders")
    win = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(win), 2).alias("running_spend"),
    )


@register(
    "window_topk_per_group",
    category="window",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) t
    WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the scalable top-k-per-group idiom.

    row_number + filter shuffles once on the partition key; never a global
    sort. The orderkey tiebreak makes the result deterministic.
    """
    orders = load_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(win).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_rank_dense",
    category="window",
    oracle="""
    SELECT p_type,
           p_partkey,
           p_retailprice,
           rank()       OVER (PARTITION BY p_type ORDER BY p_retailprice DESC, p_partkey) AS price_rank,
           dense_rank() OVER (PARTITION BY p_type ORDER BY p_retailprice DESC, p_partkey) AS price_dense_rank
    FROM part
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank over a per-type price ordering."""
    part = load_table(spark, sf_dir, "part")
    win = Window.partitionBy("p_type").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return part.select(
        "p_type",
        "p_partkey",
        "p_retailprice",
        F.rank().over(win).alias("price_rank"),
        F.dense_rank().over(win).alias("price_dense_rank"),
    )


@register(
    "window_lag_lead",
    category="window",
    oracle="""
    SELECT user_id,
           event_id,
           value,
           round(value - lag(value) OVER w, 4)  AS delta_prev,
           lead(event_type) OVER w              AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead across each user's event timeline."""
    events = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(win), 4).alias("delta_prev"),
        F.lead("event_type").over(win).alias("next_type"),
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops / dedup
# --------------------------------------------------------------------------


@register(
    "sort_limit_topk",
    category="sort",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY + LIMIT -> TakeOrderedAndProject (no full sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "set_ops",
    category="setop",
    oracle="""
    WITH y1996 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE year(o_orderdate) = 1996),
         y1997 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE year(o_orderdate) = 1997)
    SELECT 'both' AS op, o_custkey FROM (SELECT o_custkey FROM y1996 INTERSECT SELECT o_custkey FROM y1997)
    UNION ALL
    SELECT 'only_1996' AS op, o_custkey FROM (SELECT o_custkey FROM y1996 EXCEPT SELECT o_custkey FROM y1997)
    UNION ALL
    SELECT 'only_1997' AS op, o_custkey FROM (SELECT o_custkey FROM y1997 EXCEPT SELECT o_custkey FROM y1996)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over yearly active-customer sets."""
    orders = load_table(spark, sf_dir, "orders")
    y1996 = (
        orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    )
    y1997 = (
        orders.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    )
    both = y1996.intersect(y1997).select(F.lit("both").alias("op"), "o_custkey")
    only96 = y1996.exceptAll(y1997).select(F.lit("only_1996").alias("op"), "o_custkey")
    only97 = y1997.exceptAll(y1996).select(F.lit("only_1997").alias("op"), "o_custkey")
    return both.unionByName(only96).unionByName(only97)


@register(
    "dedup_exact_distinct",
    category="dedup",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def dedup_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate elimination on a projection (hash aggregate)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
    )


@register(
    "dedup_keep_first",
    category="dedup",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ) t WHERE rn = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping a deterministic representative (earliest order).

    ``dropDuplicates`` keeps an arbitrary row; at scale (and for the oracle)
    determinism requires the row_number idiom — one shuffle on the key.
    """
    orders = load_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


@register(
    "above_customer_avg",
    category="window",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
        SELECT o_orderkey, o_custkey, o_totalprice,
               avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
        FROM orders
    ) t
    WHERE o_totalprice > cust_avg
    """,
)
def above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics via an analytic window (decorrelated)."""
    orders = load_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("cust_avg", F.avg("o_totalprice").over(win))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Wider TPC-H-flavored relational coverage
# --------------------------------------------------------------------------


@register(
    "q9_profit_by_nation_year",
    category="join",
    oracle="""
    SELECT n_name,
           year(l_shipdate)                                       AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2)      AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_type = 'STANDARD'
    GROUP BY n_name, year(l_shipdate)
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 flavor: 4-way star join, profit by supplier nation and year.

    part/supplier/nation are dimensions at TPC-H ratios — all three
    broadcast, so the fact table is never shuffled for the joins; the only
    exchange is the final (nation, year) aggregation, whose key cardinality
    is bounded (25 nations x a few years) at any input size.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name", F.year("l_shipdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
    )


@register(
    "q12_priority_by_linestatus",
    category="aggregate",
    bench=True,
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 flavor: fact-fact join + conditional (pivoted) aggregation.

    orders⋈lineitem is the one genuinely large join in the schema — both
    sides shuffle on the order key (sort-merge at scale); AQE handles any
    key skew. The CASE-sum idiom folds what would be two passes into one.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue_share",
    category="join",
    oracle="""
    SELECT round(100.0 * round(sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END), 2)
           / round(sum(l_extendedprice * (1 - l_discount)), 2), 4) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: promo revenue share in one month (ratio aggregate).

    Both sums round to 2dp before dividing so the two engines divide
    identical doubles (see q1's average rationale).
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2)
                / F.round(F.sum(rev), 2),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_customer",
    category="join",
    bench=True,
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING sum(l_quantity) > 250
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 flavor: group-having over a join (large-volume orders).

    Aggregates lineitem by order key *first* (partial agg shrinks the
    shuffle to one row per order), filters on the HAVING predicate, then
    joins the survivors — orders of magnitude fewer rows — to orders and a
    broadcast customer dimension.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@register(
    "q19_disjunctive_predicate_join",
    category="join",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 flavor: OR-of-ANDs predicate spanning both join sides.

    Catalyst extracts the single-side conjuncts it can (the brand/size
    disjunction prunes part before the broadcast; the quantity bounds prune
    lineitem at the scan) and evaluates the cross-side residual after the
    join — the standard disjunctive-pushdown shape.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = lineitem.join(
        F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
    )
    branch = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    return joined.filter(
        branch("Brand#1", 1, 15, 1, 20)
        | branch("Brand#2", 10, 25, 10, 30)
        | branch("Brand#3", 20, 40, 20, 40)
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "agg_statistics",
    category="aggregate",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4)              AS price_stddev,
           round(var_samp(l_quantity), 4)                      AS qty_variance,
           round(corr(l_quantity, l_extendedprice), 4)         AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4)   AS qty_price_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev / variance / correlation / covariance.

    All four are single-pass streaming aggregates with exact partial-merge
    formulas (Welford/Chan), so they keep the map-side-combine shape of any
    sum — no extra pass, no driver math.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_variance"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_covar"
        ),
    )


@register(
    "window_range_interval",
    category="window",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW
           ), 2) AS spend_90d
    FROM orders
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per-customer trailing-90-day spend.

    Spark's rangeBetween needs a numeric ordering key, so the frame orders
    by epoch seconds with a [-90 days, 0] bound — exactly DuckDB's
    ``RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW`` (both
    bounds inclusive, peers by value not row position).
    """
    orders = load_table(spark, sf_dir, "orders")
    win = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(win), 2).alias("spend_90d"),
    )


@register(
    "join_asof",
    category="join",
    oracle="""
    WITH views AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'view'
    ), purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           p.ts,
           p.value                AS purchase_value,
           v.ts                   AS last_view_ts,
           v.value                AS last_view_value
    FROM purchases p
    LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior view.

    Spark has no ASOF JOIN operator; the scalable idiom is the union-window
    pattern — tag both sides, union, and carry the right side forward with
    ``last(..., ignorenulls)`` over (user, time). One shuffle on user_id,
    no join at all, and state per partition is a single row — this is the
    shape that survives 100 TB where a range join would explode.
    Ties (view.ts == purchase.ts) sort views first, matching ASOF's >=;
    among equal-ts views the max event_id wins — a deterministic rule
    (DuckDB's ASOF is unordered on ties, so the oracle spells out the
    same rule with a join + QUALIFY instead).
    """
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast(events.schema["ts"].dataType).alias("view_ts"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("view_event_id"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "view_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        views.unionByName(purchases)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            "side",
            F.last("view_ts", ignorenulls=True).over(win).alias("last_view_ts"),
            F.last("view_value", ignorenulls=True).over(win).alias("last_view_value"),
        )
        .filter(F.col("side") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            "last_view_ts",
            "last_view_value",
        )
    )


@register(
    "agg_percentiles",
    category="aggregate",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (PG percentile_cont parity).

    ``F.percentile`` is exact (sort-based within the aggregate); at 100 TB
    the drop-in scale path is ``approx_percentile`` (t-digest sketch, fixed
    memory, mergeable partials) — kept out of the oracle set because its
    error bound is engine-specific. Rounded at 4dp: inputs have 2 decimals,
    so halfway interpolation points carry at most 3 — the 4dp boundary is
    never on a knife edge (see q1's rounding rationale).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "null_handling",
    category="transform",
    oracle="""
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'O')                         AS status_or_null,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN')       AS status_filled,
           (NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL) AS is_open,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END                              AS price_bucket
    FROM orders
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL vocabulary: NULLIF / COALESCE / null-safe equality / CASE.

    The fixture has no physical NULLs, so NULLIF manufactures them — the
    point is the operator semantics, incl. Spark's ``eqNullSafe`` (<=>) as
    the IS NOT DISTINCT FROM twin.
    """
    orders = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return orders.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_filled"),
        status_or_null.eqNullSafe(F.lit(None)).alias("is_open"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("price_bucket"),
    )


@register(
    "array_functions",
    scale_note="0.2s denominator; pure zero-shuffle map, task overhead vanishing",
    category="transform",
    oracle="""
    SELECT vec_id,
           len(embedding)                                          AS dim,
           round(list_aggregate(embedding::DOUBLE[], 'sum'), 4)    AS sum_vals,
           round(list_aggregate(embedding::DOUBLE[], 'max'), 4)    AS max_val,
           len(list_filter(embedding::DOUBLE[], x -> x > 0))       AS n_positive,
           round(list_aggregate(list_transform(embedding::DOUBLE[],
                                               x -> x * x), 'sum'), 4) AS sum_sq
    FROM embeddings
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column.

    aggregate / filter / transform / array_max run per-row JVM-side with
    no explode — the vocabulary for array<float> columns at scale. Both
    engines fold the sum left-to-right over the same element order, so
    doubles match bit-for-bit before rounding.

    Cost (SCALE_PROBE_r12): ×3.2 on a 0.20s ×1 denominator (0.63s
    absolute at ×8) — a pure per-row map whose ×1 run never saturates
    32 cores; the ratio is fixed task overhead vanishing, sub-linear in
    the ×8 input.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    fsum = lambda col: F.aggregate(col, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(fsum(v), 4).alias("sum_vals"),
        F.round(F.array_max(v), 4).alias("max_val"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.round(fsum(F.transform(v, lambda x: x * x)), 4).alias("sum_sq"),
    )


@register(
    "q13_customer_distribution",
    category="aggregate",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 flavor: order-count histogram over a left join.

    Two-level aggregation where the outer key is itself an aggregate —
    the inner count shuffles on customer, the outer histogram shuffle
    moves one row per distinct count value. The left join keeps
    zero-order customers (count(o_orderkey) ignores the null match).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "agg_hll_sketch",
    category="aggregate",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers_exact,
           count(*)                  AS n_orders,
           true                      AS hll_within_2pct
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL-sketch distinct counts (the 100 TB COUNT DISTINCT).

    Exact distinct aggregation shuffles every distinct value; the
    datasketches HLL aggregate keeps a fixed-size sketch per partition and
    merges them — the only distinct-count that stays bounded-memory and
    combinable at petabyte scale (and the sketches themselves can persist
    for cross-day unions). The sketch binary is engine-specific, so the
    oracle-checkable surface is a tolerance bit: lgK=14 gives ~0.8%
    standard error, and the query itself asserts the estimate lands within
    2% of the exact count (DuckDB emits the literal ``true``). A sketch
    regression flips the bit and hash-fails the driver compare.
    """
    orders = load_table(spark, sf_dir, "orders")
    exact = F.count_distinct("o_custkey")
    est = F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", F.lit(14)))
    return orders.groupBy("o_orderpriority").agg(
        exact.alias("n_customers_exact"),
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.abs(est - exact) <= 0.02 * exact
        ).alias("hll_within_2pct"),
    )


@register(
    "q22_dormant_rich_customers",
    category="join",
    oracle="""
    SELECT c_mktsegment,
           count(*)                 AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT round(sum(c_acctbal), 2) / count(*)
            FROM customer
            WHERE c_acctbal > 0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey
          )
    GROUP BY c_mktsegment
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: scalar subquery threshold + NOT EXISTS + aggregate.

    The scalar subquery becomes a 1-row broadcast cross join (Catalyst
    plans correlated scalar subqueries the same way); NOT EXISTS is a
    left-anti join on the order fact. Both patterns stay
    shuffle-minimal: the threshold is one global aggregate, the anti
    join's probe side is the already-filtered customer slice.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    threshold = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.round(F.sum("c_acctbal"), 2) / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    rich = customer.crossJoin(F.broadcast(threshold)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@register(
    "q17_small_quantity_revenue",
    category="join",
    oracle="""
    SELECT round(round(sum(l_extendedprice), 2) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
            SELECT 0.2 * (round(sum(l_quantity), 2) / count(*))
            FROM lineitem l2
            WHERE l2.l_partkey = p_partkey
          )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 flavor: correlated scalar aggregate, decorrelated.

    The textbook decorrelation: the per-part average becomes one grouped
    aggregate joined back on the correlation key, instead of re-running a
    subquery per outer row. The per-part thresholds table is tiny (one row
    per part) and broadcasts; only parts of the filtered brand need
    thresholds at all, which Catalyst narrows via the join.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    thresholds = lineitem.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)))
        ).alias("qty_threshold")
    )
    return (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(thresholds), F.col("t_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.round(F.sum("l_extendedprice"), 2) / 7.0, 4).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "set_ops_multiset",
    category="setop",
    oracle="""
    SELECT o_custkey, count(*) AS n FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY o_custkey
    """,
)
def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL: bag semantics with per-row multiplicity.

    ``exceptAll`` subtracts *occurrences*, not membership — the SQL bag
    algebra the distinct set ops can't express. Implemented by Spark as a
    count-tagged aggregation + generate, so it stays one shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        fulfilled.exceptAll(urgent)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_string_concat",
    category="aggregate",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg parity).

    ``collect_list`` order is partition-dependent, so the deterministic
    form is collect -> array_sort -> join — the exact semantics of SQL's
    ``string_agg(x, ',' ORDER BY x)``.
    """
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            )
        )
    )


@register(
    "date_arithmetic",
    category="transform",
    oracle="""
    SELECT o_orderkey,
           date_diff('day', o_orderdate, TIMESTAMP '2001-09-01 00:00:00')
               AS days_to_cutoff,
           CAST(o_orderdate + INTERVAL 90 DAY AS DATE)  AS due_date,
           last_day(CAST(o_orderdate AS DATE))          AS month_end,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
    FROM orders
    """,
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic vocabulary: diff, offset, month-end, quarter trunc."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.col("o_orderdate")
        ).cast("long").alias("days_to_cutoff"),
        F.date_add(F.col("o_orderdate").cast("date"), 90).alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
        # Tz-free truncation (see date_functions note on F.date_trunc).
        F.trunc("o_orderdate", "quarter").alias("quarter_start"),
    )


@register(
    "q7_volume_shipping",
    category="join",
    bench=True,
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
            OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 flavor: bilateral trade volume between two nations by year.

    Both nation lookups broadcast, so lineitem is semi-reduced by the
    supplier-nation filter before the only large shuffles (orders,
    customer). The disjunctive nation-pair predicate lands after both
    broadcasts; output cardinality is 2 directions x 2 years.
    Reference grounding: ORM join surface README.md:159-164.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_3", "NATION_8"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_3", "NATION_8"))
    return (
        lineitem.join(
            F.broadcast(
                supplier.join(n1, F.col("s_nationkey") == F.col("n1_key"))
            ),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            customer.join(
                F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "q8_market_share",
    category="join",
    oracle="""
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END), 2) / round(sum(volume), 2)
               AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE'
          AND p_type = 'STANDARD'
          AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 flavor: one nation's market share inside a region by year.

    All dimensions (part, supplier, both nation roles, region) broadcast;
    the ratio divides two sums rounded to cents so both engines divide
    bit-identical operands (cross-engine float discipline, SURVEY.md '5).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    cust_region = customer.join(
        F.broadcast(
            nation.join(
                F.broadcast(region),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select(F.col("n_nationkey").alias("cn_key"))
        ),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey")
    supp_nation = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp_nation), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("supp_nation") == "NATION_3", volume
                        ).otherwise(F.lit(0.0))
                    ),
                    2,
                )
                / F.round(F.sum(volume), 2)
            ).alias("mkt_share")
        )
    )


@register(
    "q15_top_supplier",
    category="aggregate",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1996-03-31 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 flavor: supplier(s) with the maximum quarterly revenue.

    The scalar subquery becomes a 1-row aggregate broadcast cross-join —
    no single-partition window, so the revenue relation never collapses
    to one task no matter how many suppliers exist at scale.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        lineitem.filter(F.col("l_shipdate").between("1996-01-01", "1996-03-31"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q21_sole_late_supplier",
    category="join",
    bench=True,
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 flavor: the only supplier who shipped late on a shared order.

    Instead of the textbook EXISTS + NOT EXISTS double self-join of
    lineitem, collect each order's (supplier, late) entries in ONE
    aggregation keyed on l_orderkey and resolve both quantifiers with
    array expressions — one wide shuffle at any scale (a window over
    l_orderkey after a (l_orderkey, l_suppkey) groupBy would re-exchange).
    Orders have bounded line counts, so the per-order array cannot skew.
    (Lateness is shipdate-based: this testdata has no commit/receipt
    dates.)
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    per_order = (
        lineitem.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("l_orderkey", "l_suppkey", late.alias("late"))
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_suppkey", "late")).alias("entries"))
    )
    late_supps = F.array_distinct(
        F.transform(
            F.filter("entries", lambda e: e["late"]),
            lambda e: e["l_suppkey"],
        )
    )
    qualified = (
        per_order.select(
            late_supps.alias("late_supps"),
            F.size(
                F.array_distinct(
                    F.transform("entries", lambda e: e["l_suppkey"])
                )
            ).alias("n_supp"),
            F.size(F.filter("entries", lambda e: e["late"])).alias(
                "late_rows"
            ),
        )
        .filter((F.size("late_supps") == 1) & (F.col("n_supp") >= 2))
        .select(
            F.element_at("late_supps", 1).alias("l_suppkey"), "late_rows"
        )
    )
    return (
        qualified.join(
            F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
    )


@register(
    "window_distribution",
    category="window",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cum_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile / percent_rank / cume_dist.

    Ties broken by c_custkey so every rank is deterministic; the ratios
    are exact integer divisions, bit-identical across engines.
    """
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@register(
    "unpivot_measures",
    category="transform",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value
    FROM (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount
        FROM lineitem
    )
    UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot of lineitem measures (melt / UNPIVOT parity).

    ``DataFrame.unpivot`` is a Generate (no shuffle, no UDF): each input
    row fans out to one row per measure column, streamed through codegen.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


@register(
    "agg_arg_max",
    category="aggregate",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_name, c_custkey) AS newest_customer,
           arg_min(c_name, c_custkey) AS oldest_customer,
           round(max(c_acctbal), 2)   AS top_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_max / arg_min (max_by / min_by): value at the group's extremum.

    Keyed on the unique c_custkey so the extremum is deterministic —
    arg_max over a column with ties is engine-dependent and would not
    hash-match.
    """
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_custkey").alias("newest_customer"),
        F.min_by("c_name", "c_custkey").alias("oldest_customer"),
        F.round(F.max("c_acctbal"), 2).alias("top_balance"),
    )


@register(
    "join_right_outer",
    category="join",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM (SELECT * FROM supplier WHERE s_acctbal > 0) s
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every nation survives, supplier side nullable.

    Completes the how= matrix (inner/left/right/full/semi/anti). Spark
    plans a right-outer broadcast with the *left* side built — the
    preserved side must stream.
    """
    supplier = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 0
    )
    nation = load_table(spark, sf_dir, "nation")
    return supplier.join(
        nation, F.col("s_nationkey") == F.col("n_nationkey"), "right"
    ).select("s_suppkey", "s_name", "n_name")


@register(
    "window_value_functions",
    category="window",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER w AS latest_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over a running ROWS frame.

    The frame is explicit because last_value over the default frame is the
    CURRENT row (a classic SQL trap both engines share); ordering ties are
    broken by o_orderkey so every frame is deterministic. Running frames
    stream — no per-partition materialization.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "agg_approx_percentile",
    category="aggregate",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_items,
           true     AS p50_in_rank_band,
           true     AS p95_in_rank_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable percentile sketch (the 100 TB percentile path).

    Exact percentiles sort each group; ``approx_percentile`` keeps a
    fixed-size mergeable summary per partition (accuracy set to 10000,
    ~0.01% rank error) — the combinable form that scales like any
    partial aggregation. The sketch value itself is engine-specific, so
    the oracle-checkable surface is a rank-band bit: the query asserts
    the approximate p50/p95 land between the exact quantiles one
    percentile-point either side (rank error 0.0001 << 0.01), and DuckDB
    emits the literal ``true``. A sketch regression hash-fails the
    driver compare.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    # One exact-percentile sort and one sketch pass per group — the four
    # band edges come out of a single array-percentile aggregate, not four
    # separate sorts.
    agged = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(
            "percentile(l_extendedprice,"
            " array(0.49D, 0.51D, 0.94D, 0.96D))"
        ).alias("ex"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)"
        ).alias("ap"),
    )
    ex = lambda i: F.element_at("ex", i)  # noqa: E731
    ap = lambda i: F.element_at("ap", i)  # noqa: E731
    return agged.select(
        "l_returnflag",
        "n_items",
        ap(1).between(ex(1), ex(2)).alias("p50_in_rank_band"),
        ap(2).between(ex(3), ex(4)).alias("p95_in_rank_band"),
    )


@register(
    "agg_salted_skew",
    category="aggregate",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation through an explicit salt.

    ``l_returnflag`` has 3 values over the whole fact table — the textbook
    hot-key aggregation. The salted plan (``layout.salted_aggregate``)
    spreads each key over 16 reducers in phase 1 and merges at most 16
    partial rows per key in phase 2; the oracle runs the plain GROUP BY,
    so the hash match proves salting is *lossless* — the 100 TB skew
    lever changes the physical plan only. Measures are integer (quantity
    cast to bigint, row count), so the sums are exact in any merge order;
    the oracle casts its sum back to BIGINT because DuckDB widens summed
    bigints to HUGEINT, which has no hash-safe Spark twin (the round-1
    q12 lesson).
    """
    from data_preparation_plugin_spark.layout import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return salted_aggregate(
        li,
        ["l_returnflag"],
        16,
        {"sum_qty": ("qty", "sum"), "n_items": ("qty", "count")},
    )


@register(
    "transform_winsorize",
    category="transform",
    oracle="""
    WITH bounds AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.05) AS lo,
               quantile_cont(o_totalprice, 0.95) AS hi
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o.o_totalprice < b.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN o.o_totalprice > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           round(sum(least(greatest(o.o_totalprice, b.lo), b.hi)), 2)
               AS winsorized_total
    FROM orders o
    JOIN bounds b ON o.o_orderpriority = b.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def transform_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip per-group outliers at exact p05/p95.

    The feature-cleaning transform every tabular training pipeline runs
    before normalization. Plan shape: one exact-percentile aggregation
    over the group key (5 rows out), broadcast back onto the fact scan,
    clip with pure ``greatest``/``least`` expressions, aggregate. At
    100 TB the drop-in scale substitution is ``approx_percentile`` for
    the bounds pass — the clip/aggregate stages are unchanged. Clip
    comparisons are exact (both engines interpolate percentiles
    identically — proven by ``agg_percentiles``), clip counts are
    integers, and the clipped sum follows the round-sums-only rule.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    bounds = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("hi"),
    )
    joined = orders.join(F.broadcast(bounds), "o_orderpriority")
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((F.col("o_totalprice") < F.col("lo")).cast("long")).alias(
            "n_clipped_low"
        ),
        F.sum((F.col("o_totalprice") > F.col("hi")).cast("long")).alias(
            "n_clipped_high"
        ),
        F.round(F.sum(clipped), 2).alias("winsorized_total"),
    )


@register(
    "transform_quantile_bin",
    category="transform",
    oracle="""
    WITH binned AS (
        SELECT o_orderpriority,
               o_totalprice,
               ntile(10) OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey
               ) AS price_decile
        FROM orders
    )
    SELECT o_orderpriority,
           price_decile,
           count(*)                     AS n_orders,
           round(min(o_totalprice), 2)  AS decile_floor,
           round(max(o_totalprice), 2)  AS decile_ceil
    FROM binned
    GROUP BY o_orderpriority, price_decile
    """,
)
def transform_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning: per-group price deciles via ntile.

    The featurization step that turns a continuous column into a
    categorical one with balanced bucket populations — ntile's
    remainder-distribution rule is engine-identical, and the full ORDER
    BY tiebreak (price, then key) makes every row's bucket deterministic,
    so bucket populations AND boundary values hash-match. One shuffle on
    the group key; the per-partition sort is the ntile cost, same shape
    as any ranking window at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    win = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.withColumn("price_decile", F.ntile(10).over(win))
        .groupBy("o_orderpriority", "price_decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("decile_floor"),
            F.round(F.max("o_totalprice"), 2).alias("decile_ceil"),
        )
    )


@register(
    "join_asof_tolerance",
    category="join",
    oracle="""
    WITH views AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'view'
    ), purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           p.ts,
           p.value AS purchase_value,
           CASE WHEN v.ts IS NOT NULL AND p.ts - v.ts <= INTERVAL 2 HOUR
                THEN v.ts END    AS last_view_ts,
           CASE WHEN v.ts IS NOT NULL AND p.ts - v.ts <= INTERVAL 2 HOUR
                THEN v.value END AS last_view_value
    FROM purchases p
    LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) = 1
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (pandas ``merge_asof`` parity).

    Same union-window idiom as ``join_asof`` — one shuffle on the key,
    O(1) carried state, no range join — plus the tolerance rule every
    attribution pipeline actually needs: a prior view only counts if it
    happened within the window (2 h here). The tolerance is a pure
    post-window expression (timestamp difference vs interval literal,
    exact microsecond integers in both engines), so the scale shape is
    unchanged from the unbounded as-of.
    """
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast(events.schema["ts"].dataType).alias("view_ts"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("view_event_id"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "view_event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        views.unionByName(purchases)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            "side",
            F.last("view_ts", ignorenulls=True).over(win).alias("raw_view_ts"),
            F.last("view_value", ignorenulls=True)
            .over(win)
            .alias("raw_view_value"),
        )
        .filter(F.col("side") == 1)
    )
    within = F.col("raw_view_ts").isNotNull() & (
        F.col("ts") - F.col("raw_view_ts") <= F.expr("INTERVAL 2 HOURS")
    )
    return carried.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.when(within, F.col("raw_view_ts")).alias("last_view_ts"),
        F.when(within, F.col("raw_view_value")).alias("last_view_value"),
    )


@register(
    "join_asof_forward",
    category="join",
    oracle="""
    WITH views AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'view'
    ), purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           p.ts,
           p.value AS purchase_value,
           v.ts    AS next_view_ts,
           v.value AS next_view_value
    FROM purchases p
    LEFT JOIN views v
      ON p.user_id = v.user_id AND v.ts >= p.ts
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY v.ts ASC, v.event_id ASC) = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the user's NEXT view.

    ``merge_asof(direction='forward')`` parity — the mirror of
    :func:`join_asof`: the union-window idiom with a FOLLOWING frame and
    ``first(..., ignorenulls)`` instead of PRECEDING + ``last``. Purchases
    sort before views at equal timestamps so a same-instant view matches
    (ASOF's ``<=``); among equal-ts views the min event_id wins — a
    deterministic tie rule mirrored in the oracle (join + QUALIFY, since
    DuckDB's ASOF is unordered on ties).
    """
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast(events.schema["ts"].dataType).alias("view_ts"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("view_event_id"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("view_event_id"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "view_event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        purchases.unionByName(views)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            "side",
            F.first("view_ts", ignorenulls=True).over(win).alias("next_view_ts"),
            F.first("view_value", ignorenulls=True)
            .over(win)
            .alias("next_view_value"),
        )
        .filter(F.col("side") == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            "next_view_ts",
            "next_view_value",
        )
    )


#: Salt fan-out for the replicated-dimension skew join.
JOIN_SKEW_SALTS = 8


@register(
    "join_salted_skew",
    scale_note="salting replicates only the HOT keys' dim rows; sub-linear vs x8 input on a 2s denominator",
    category="join",
    oracle="""
    WITH fact AS (
        SELECT CASE WHEN l_orderkey % 100 = 0 THEN 0
                    ELSE l_orderkey END AS join_key,
               l_extendedprice, l_discount
        FROM lineitem
    ), dim AS (
        SELECT CASE WHEN o_orderkey % 100 = 0 THEN 0
                    ELSE o_orderkey END AS join_key,
               min(o_orderpriority) AS o_orderpriority
        FROM orders
        GROUP BY 1
    )
    SELECT d.o_orderpriority,
           count(*) AS n_items,
           round(sum(f.l_extendedprice * (1 - f.l_discount)), 2) AS revenue
    FROM fact f JOIN dim d ON f.join_key = d.join_key
    GROUP BY d.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi-join: salt the hot fact keys, replicate the dim.

    The join-side twin of ``agg_salted_skew``: 1% of the fact rows
    collapse onto one artificial hot key (the grafted-celebrity-row
    pattern every real fact table has). The salted rewrite adds a
    deterministic salt (``l_linenumber-free``: md5-derived so it needs no
    extra column) to the fact side and **replicates the dimension once
    per salt** with an in-row explode — the join key becomes (key, salt),
    spreading the hot key over ``JOIN_SKEW_SALTS`` reducers. The oracle
    runs the plain unsalted join: the hash match proves the rewrite is
    lossless. AQE's skew-join split handles moderate skew without plan
    changes; the explicit salt is the lever for the pathological keys AQE
    can't subdivide (single-key partitions).
    """
    li = load_table(spark, sf_dir, "lineitem")
    hot = F.col("join_key") == 0
    fact = li.select(
        F.when(F.col("l_orderkey") % 100 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("join_key"),
        "l_extendedprice",
        "l_discount",
    ).withColumn(
        # Deterministic uniform salt from the row's content — HOT rows
        # only; cold keys keep salt 0 so their dim rows are never
        # replicated. xxhash64 has no DuckDB twin, but the salt never
        # reaches the oracle — the unsalted join it runs is
        # salt-agnostic — so the fast JVM hash is safe here, unlike in
        # oracle-visible md5 constructions.
        "salt",
        F.when(
            hot,
            F.pmod(
                F.xxhash64("l_extendedprice", "l_discount"),
                F.lit(JOIN_SKEW_SALTS),
            ),
        ).otherwise(F.lit(0)),
    )
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderkey") % 100 == 0, F.lit(0))
            .otherwise(F.col("o_orderkey"))
            .alias("join_key"),
            "o_orderpriority",
        )
        .groupBy("join_key")
        .agg(F.min("o_orderpriority").alias("o_orderpriority"))
        .select(
            "join_key",
            "o_orderpriority",
            # Replicate ONLY the hot key across the salt space; cold keys
            # ship one row. The probe measured whole-dim replication
            # going x6 at x8 input — the replicated volume, not the hot
            # key, was the cost.
            F.explode(
                F.when(
                    hot,
                    F.sequence(F.lit(0), F.lit(JOIN_SKEW_SALTS - 1)),
                ).otherwise(F.array(F.lit(0)))
            ).alias("salt"),
        )
    )
    joined = fact.join(dim, ["join_key", "salt"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


@register(
    "q2_min_cost_supplier",
    category="join",
    oracle="""
    WITH eligible AS (
        SELECT l.l_partkey, l.l_extendedprice,
               s.s_acctbal, s.s_name, n.n_name
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_retailprice,
           e.l_extendedprice AS supply_price
    FROM part p JOIN eligible e ON e.l_partkey = p.p_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
      AND e.l_extendedprice = (
            SELECT min(e2.l_extendedprice) FROM eligible e2
            WHERE e2.l_partkey = p.p_partkey
          )
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p.p_partkey, supply_price
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 flavor: scalar subquery in a predicate (min-cost supplier).

    The missing decorrelation pattern from the Q-family: a correlated
    ``= (SELECT min(...))`` predicate over a multi-dimension join chain
    (supplier -> nation -> region), top-N output. Decorrelated the only
    way that scales: the per-part minimum becomes ONE grouped aggregate
    over the region-filtered fact (map-side combinable), joined back on
    the correlation key. The dimension chain broadcasts (supplier/nation/
    region are KB-sized at any SF), so the fact scans once and never
    shuffles for the dims; the min table is |parts| rows — broadcast too.
    The equality on doubles is exact: min() returns one of the input
    values bit-for-bit in both engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        )
        .join(
            region.filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eligible = lineitem.join(
        F.broadcast(dims), lineitem.l_suppkey == F.col("s_suppkey")
    ).select("l_partkey", "l_extendedprice", "s_acctbal", "s_name", "n_name")
    mins = eligible.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    partf = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    return (
        eligible.join(
            F.broadcast(partf), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(F.broadcast(mins), F.col("m_partkey") == F.col("l_partkey"))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_retailprice",
            F.col("l_extendedprice").alias("supply_price"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey",
            "supply_price",
        )
        .limit(100)
    )


@register(
    "q11_important_stock",
    category="aggregate",
    oracle="""
    WITH natline AS (
        SELECT l.l_partkey,
               l.l_extendedprice * (1 - l.l_discount) AS val
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT l_partkey, round(sum(val), 2) AS value
    FROM natline
    GROUP BY l_partkey
    HAVING sum(val) > (SELECT sum(val) * 0.001 FROM natline)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 flavor: group-filtered aggregate over a global aggregate.

    HAVING against a scalar subquery of the SAME derived stream — the
    agg-over-agg decorrelation. The stream materializes logically twice
    but scans once per aggregate with the filter/dims pushed; the global
    total is a one-row DataFrame broadcast into the comparison (a
    broadcast nested loop with a single build row — free), never a
    driver-side collect. The fixture margin between any group sum and
    the threshold is >100 (probed), so summation-order ulps can't flip
    a boundary row between engines.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    dims = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    natline = lineitem.join(
        F.broadcast(dims), lineitem.l_suppkey == F.col("s_suppkey")
    ).select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"),
    )
    sums = natline.groupBy("l_partkey").agg(F.sum("val").alias("v"))
    total = natline.agg((F.sum("val") * 0.001).alias("thr"))
    return (
        sums.join(F.broadcast(total))
        .filter(F.col("v") > F.col("thr"))
        .select("l_partkey", F.round("v", 2).alias("value"))
    )


@register(
    "q16_supplier_part_counts",
    category="aggregate",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 flavor: distinct-count with a NOT IN anti-join.

    The last distinct-count shape in the family: NOT IN over a subquery
    compiles to a broadcast left-anti join (the exclusion set is
    supplier-sized — tiny), the part predicate prunes before the join,
    and the count(DISTINCT) runs as Spark's two-phase distinct aggregate
    (partial distinct per partition, then merge) — no row ever carries
    more than the three group keys plus a suppkey. NOT IN's null trap
    (one NULL poisons the set) is structurally absent: s_suppkey is a
    key column, never null, in both engines.
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(bad_supp),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        lineitem.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_dominant_share_suppliers",
    category="join",
    oracle="""
    WITH shipped AS (
        SELECT l.l_suppkey, l.l_partkey, sum(l.l_quantity) AS qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%gear%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
    ), qualified AS (
        SELECT DISTINCT sh.l_suppkey
        FROM shipped sh
        WHERE sh.qty > 0.5 * (
            SELECT sum(sh2.qty) FROM shipped sh2
            WHERE sh2.l_partkey = sh.l_partkey
        )
    )
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (SELECT l_suppkey FROM qualified)
    """,
)
def q20_dominant_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 flavor: semi-join over a correlated scalar subquery.

    The deepest nesting in the family: suppliers IN (grouped aggregate
    HAVING a correlated per-part total) — Q20's availqty-vs-shipped
    pattern re-grounded on the tables this schema has (a supplier
    "dominates" a part when it shipped more than half that part's
    year-volume). Decorrelation: the inner scalar becomes a second
    grouped aggregate on the same `shipped` stream joined back on
    partkey; the final IN is a broadcast left-semi join onto the
    dimension-sized supplier table. Quantities are integer-valued
    doubles, so every sum and the 0.5x threshold are IEEE-exact in both
    engines — no rounding needed anywhere.
    """
    partf = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    shipped = (
        lineitem.join(
            F.broadcast(partf), F.col("p_partkey") == F.col("l_partkey")
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("part_qty")
    )
    qualified = (
        shipped.join(
            F.broadcast(totals), F.col("t_partkey") == F.col("l_partkey")
        )
        .filter(F.col("qty") > 0.5 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supplier = load_table(spark, sf_dir, "supplier")
    asian_nations = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region").filter(
                F.col("r_name") == "ASIA"
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    return (
        supplier.join(
            F.broadcast(asian_nations),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(qualified),
            supplier.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )


@register(
    "join_lateral_topk",
    category="join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_extendedprice
    FROM orders o,
         LATERAL (SELECT l_linenumber, l_extendedprice
                  FROM lineitem
                  WHERE l_orderkey = o.o_orderkey
                  ORDER BY l_extendedprice DESC, l_linenumber
                  LIMIT 1) l
    WHERE o.o_orderkey % 50 = 0
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-1 detail row per outer row.

    The SQL surface users reach for before they learn window functions
    — "for each order, its most expensive line item" as a correlated
    inline subquery — supported natively by Spark 4's LATERAL. Catalyst
    decorrelates it into the same plan family as
    ``window_topk_per_group`` (rank-and-filter over a join), so the
    declarative form costs what the rewrite costs; this query pins that
    the surface works and returns exactly the oracle's rows (DuckDB
    runs the identical LATERAL).

    Scale shape: after decorrelation, one equi-join on the order key
    feeding a per-key top-1 (min/max-by or rank) — no per-row
    re-execution of the subquery, which is the entire point of
    decorrelation at scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders.createOrReplaceTempView("__lat_orders")
    lineitem.createOrReplaceTempView("__lat_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber,
               l.l_extendedprice
        FROM __lat_orders o,
             LATERAL (SELECT l_linenumber, l_extendedprice
                      FROM __lat_lineitem
                      WHERE l_orderkey = o.o_orderkey
                      ORDER BY l_extendedprice DESC, l_linenumber
                      LIMIT 1) l
        WHERE o.o_orderkey % 50 = 0
        """
    )


@register(
    "join_asof_nearest",
    category="join",
    oracle="""
    WITH views AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'view'
    ), purchases AS (
        SELECT event_id, user_id, ts, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           p.ts,
           p.value AS purchase_value,
           v.ts    AS nearest_view_ts,
           v.value AS nearest_view_value,
           CASE WHEN v.ts IS NULL THEN NULL
                WHEN v.ts <= p.ts THEN 'back' ELSE 'fwd' END AS direction
    FROM purchases p
    LEFT JOIN views v ON p.user_id = v.user_id
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY abs(date_diff('microsecond', v.ts, p.ts)),
                 CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END,
                 CASE WHEN v.ts <= p.ts THEN -v.event_id
                      ELSE v.event_id END) = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, nearest in EITHER direction — the sensor-alignment rule.

    Completes the as-of family (backward, forward, tolerance): each
    purchase takes whichever view is closest in absolute time, before
    OR after — how mis-clocked sensor feeds are aligned. The scalable
    form stays the union-window pattern: ONE user/time sort carries the
    best backward candidate (``last`` ignorenulls over the preceding
    frame — latest ts, max event_id on ties) and the best forward
    candidate (``first`` ignorenulls over the following frame —
    earliest ts, min event_id), then an integer-microsecond comparison
    picks the closer, ties to backward. The oracle ranks ALL candidate
    views per purchase with the equivalent total order, proving the
    two-candidate reduction exact. No range join, no fan-out; the same
    single exchange as ``join_asof``.
    """
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("purchase_value"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.lit(None).cast(events.schema["ts"].dataType).alias("view_ts"),
        F.lit(None).cast("double").alias("view_value"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("view_event_id"),
    )
    ordered = Window.partitionBy("user_id").orderBy(
        "ts", "side", "view_event_id"
    )
    back_w = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd_w = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    both = (
        views.unionByName(purchases)
        .select(
            "event_id",
            "user_id",
            "ts",
            "purchase_value",
            "side",
            F.last("view_ts", ignorenulls=True).over(back_w).alias("b_ts"),
            F.last("view_value", ignorenulls=True)
            .over(back_w)
            .alias("b_val"),
            F.first("view_ts", ignorenulls=True).over(fwd_w).alias("f_ts"),
            F.first("view_value", ignorenulls=True)
            .over(fwd_w)
            .alias("f_val"),
        )
        .filter(F.col("side") == 1)
    )
    b_delta = F.expr("timestampdiff(MICROSECOND, b_ts, ts)")
    f_delta = F.expr("timestampdiff(MICROSECOND, ts, f_ts)")
    take_back = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (b_delta <= f_delta)
    )
    return both.select(
        "event_id",
        "user_id",
        "ts",
        "purchase_value",
        F.when(take_back, F.col("b_ts"))
        .otherwise(F.col("f_ts"))
        .alias("nearest_view_ts"),
        F.when(take_back, F.col("b_val"))
        .otherwise(F.col("f_val"))
        .alias("nearest_view_value"),
        F.when(F.col("b_ts").isNull() & F.col("f_ts").isNull(), F.lit(None))
        .when(take_back, F.lit("back"))
        .otherwise(F.lit("fwd"))
        .alias("direction"),
    )


#: k-anonymity threshold: quasi-identifier groups smaller than this are
#: suppressed (generalized to the top of their hierarchy) before release.
K_ANONYMITY = 8


@register(
    "transform_k_anonymize",
    category="transform",
    oracle=f"""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS group_size
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c.c_custkey,
           CAST(q.group_size AS BIGINT) AS anonymity_set,
           CASE WHEN q.group_size >= {K_ANONYMITY}
                THEN c.c_nationkey ELSE -1 END AS nation_out,
           CASE WHEN q.group_size >= {K_ANONYMITY}
                THEN c.c_mktsegment ELSE '*' END AS segment_out,
           q.group_size < {K_ANONYMITY} AS suppressed
    FROM customer c
    JOIN qi q USING (c_nationkey, c_mktsegment)
    """,
)
def transform_k_anonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression over a quasi-identifier pair.

    The privacy gate a dataset release runs before publication: any
    combination of quasi-identifiers (here nation x market segment)
    shared by fewer than K_ANONYMITY individuals is generalized to the
    hierarchy top (-1 / '*') so no released row is re-identifiable within
    a group smaller than k. Complements ``transform_pseudonymize_consistent``
    (which handles direct identifiers) — together they are the
    de-identification pass of a curation pipeline.

    Scale shape: the QI histogram's cardinality is the product of the QI
    domains (bounded by construction — that is what makes a column a
    quasi-identifier), so it aggregates map-side and broadcasts back; the
    big table is never shuffled. At 100 TB this is one scan plus a
    broadcast hash join.
    """
    customer = load_table(spark, sf_dir, "customer")
    qi = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    keep = F.col("group_size") >= K_ANONYMITY
    return (
        customer.join(F.broadcast(qi), ["c_nationkey", "c_mktsegment"])
        .select(
            "c_custkey",
            F.col("group_size").cast("bigint").alias("anonymity_set"),
            F.when(keep, F.col("c_nationkey")).otherwise(F.lit(-1)).alias("nation_out"),
            F.when(keep, F.col("c_mktsegment")).otherwise(F.lit("*")).alias("segment_out"),
            (~keep).alias("suppressed"),
        )
    )


#: l-diversity threshold: released QI groups must carry at least this many
#: distinct sensitive values.
L_DIVERSITY = 3
#: Account-balance band width for the l-diversity quasi-identifier.
L_DIV_BAND = 2000


@register(
    "transform_l_diversity",
    category="transform",
    oracle=f"""
    WITH banded AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / {L_DIV_BAND}) AS INT) AS bal_band
        FROM customer
    ), qi AS (
        SELECT c_nationkey, bal_band,
               count(*) AS group_size,
               count(DISTINCT c_mktsegment) AS l_distinct
        FROM banded GROUP BY c_nationkey, bal_band
    )
    SELECT b.c_custkey,
           CAST(q.group_size AS BIGINT) AS group_size,
           CAST(q.l_distinct AS BIGINT) AS l_distinct,
           CASE WHEN q.l_distinct >= {L_DIVERSITY}
                THEN b.c_nationkey ELSE -1 END AS nation_out,
           CASE WHEN q.l_distinct >= {L_DIVERSITY}
                THEN b.bal_band ELSE -1 END AS band_out,
           q.l_distinct < {L_DIVERSITY} AS suppressed
    FROM banded b JOIN qi q USING (c_nationkey, bal_band)
    """,
)
def transform_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity check: released QI groups need diverse sensitive values.

    The attack k-anonymity misses: a group can be large yet homogeneous —
    if all 20 people in a (nation, balance-band) cell share one market
    segment, membership alone discloses the sensitive attribute. This
    pass counts distinct sensitive values per QI group and suppresses
    groups below the l threshold, completing the de-identification trio
    (``transform_pseudonymize_consistent`` for direct identifiers,
    ``transform_k_anonymize`` for group size, this for group diversity).

    Scale shape: identical to k-anonymize — the QI histogram (bounded
    domains by construction) aggregates with a distinct-count map-side
    partial and broadcasts back; the released table never shuffles.
    """
    customer = load_table(spark, sf_dir, "customer")
    banded = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / L_DIV_BAND).cast("int").alias("bal_band"),
    )
    qi = banded.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("c_mktsegment").alias("l_distinct"),
    )
    keep = F.col("l_distinct") >= L_DIVERSITY
    return (
        banded.join(F.broadcast(qi), ["c_nationkey", "bal_band"])
        .select(
            "c_custkey",
            F.col("group_size").cast("long").alias("group_size"),
            F.col("l_distinct").cast("long").alias("l_distinct"),
            F.when(keep, F.col("c_nationkey")).otherwise(-1).alias("nation_out"),
            F.when(keep, F.col("bal_band")).otherwise(-1).alias("band_out"),
            (~keep).alias("suppressed"),
        )
    )


@register(
    "transform_observed_quality_gate",
    category="transform",
    oracle="""
    SELECT o_orderpriority,
           count(*)                          AS n_orders,
           round(sum(o_totalprice), 2)       AS total_price
    FROM orders
    WHERE o_totalprice > 0 AND o_custkey IS NOT NULL
    GROUP BY o_orderpriority
    """,
)
def transform_observed_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate with ``observe()`` pipeline metrics (CollectMetrics).

    Production filters must report what they dropped without a second
    scan: ``df.observe`` attaches named aggregate metrics to the plan
    (CollectMetrics node) that accumulate as a side effect of the one
    pass the query already makes — rows seen, rows with a non-positive
    price, null keys. The observation is asserted against recomputed
    counts in ``tests/test_properties.py``; the returned DataFrame is
    the gated aggregate the oracle checks, so correctness and
    observability ride the same plan.

    Scale shape: CollectMetrics is a streaming-fold over each task's
    rows, merged driver-side once per query — O(metrics), not O(rows),
    of driver traffic; the gate itself is a pushed-down filter feeding a
    bounded-key aggregate.
    """
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("quality_gate")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_key"
        ),
    )
    gated = observed.filter(
        (F.col("o_totalprice") > 0) & F.col("o_custkey").isNotNull()
    )
    result = gated.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    # Stash the Observation so tests (and operators) can read the metrics
    # after the action without re-scanning.
    result._dpp_observation = obs  # type: ignore[attr-defined]
    return result


#: Differential-privacy release: epsilon and the seed for the DETERMINISTIC
#: noise stream (hash-uniform -> inverse-CDF Laplace).
DP_EPSILON = 1.0
DP_SEED = "dp-release-1"


@register(
    "transform_dp_noisy_counts",
    category="transform",
    oracle=f"""
    WITH exact AS (
        SELECT c_mktsegment, count(*) AS n
        FROM customer GROUP BY c_mktsegment
    ), noised AS (
        SELECT c_mktsegment, n,
               ('0x' || substr(md5('{DP_SEED}' || c_mktsegment), 1, 8))::BIGINT
                   / 4294967296.0 - 0.5 AS u_raw
        FROM exact
    ), clamped AS (
        SELECT c_mktsegment, n,
               least(0.499999, greatest(-0.499999, round(u_raw, 6))) AS u
        FROM noised
    )
    SELECT c_mktsegment,
           CAST(n AS BIGINT) AS exact_count,
           u,
           CAST(round(n - (1.0 / {DP_EPSILON})
                      * CASE WHEN u >= 0 THEN 1 ELSE -1 END
                      * ln(1 - 2 * abs(u))) AS BIGINT)
               AS noisy_count
    FROM clamped
    """,
)
def transform_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release: seeded Laplace via inverse CDF.

    The release mechanism behind every public aggregate of a private
    table: counts get Laplace(1/epsilon) noise (count sensitivity = 1).
    The uniform draw is DETERMINISTIC — md5(seed || group) scaled to
    (-0.5, 0.5), pushed through the Laplace inverse CDF
    ``-(1/eps) * sign(u) * ln(1 - 2|u|)`` — so the release is
    reproducible run-to-run (one noise draw per published statistic, the
    correct DP accounting: re-running must NOT consume fresh budget) and
    the oracle replays the exact noise stream. The uniform is rounded to
    6dp then clamped to [-0.499999, 0.499999] before the CDF so both
    engines feed ln identical arguments AND the inverse CDF is total —
    an unclamped |u| = 0.5 (md5 prefix 00000000 or a round-up at the
    edge) would make ln(1-2|u|) = -inf and the cast engine-divergent.
    Completes the privacy family: pseudonymize (direct identifiers),
    k-anonymity / l-diversity (quasi-identifiers), DP (aggregates).

    Scale shape: a bounded-key count with map-side combine, then pure
    per-group expressions — the noise adds zero data movement.
    """
    customer = load_table(spark, sf_dir, "customer")
    exact = customer.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    u_raw = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(DP_SEED), F.col("c_mktsegment"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
        - 0.5
    )
    # Clamp so the Laplace inverse CDF is total: ln(1-2|u|) diverges at
    # |u| = 0.5, reachable when the md5 prefix is 00000000 (u = -0.5) or
    # the 6dp rounding lands on the open-interval edge.
    u = F.least(
        F.lit(0.499999), F.greatest(F.lit(-0.499999), F.round(u_raw, 6))
    )
    noise = (
        (1.0 / DP_EPSILON)
        * F.when(u >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1 - 2 * F.abs(u))
    )
    return exact.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("exact_count"),
        u.alias("u"),
        F.round(F.col("n") - noise, 0).cast("long").alias("noisy_count"),
    )


@register(
    "setop_intersect_all",
    category="setop",
    oracle="""
    WITH f AS (
        SELECT o_custkey, count(*) AS cf FROM orders
        WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ), u AS (
        SELECT o_custkey, count(*) AS cu FROM orders
        WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
    )
    SELECT f.o_custkey,
           CAST(least(f.cf, u.cu) AS BIGINT) AS n,
           CAST(least(f.cf, u.cu) AS BIGINT) AS n_expected
    FROM f JOIN u ON f.o_custkey = u.o_custkey
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL with its closed-form reconciliation.

    Completes the bag algebra next to ``set_ops_multiset``'s EXCEPT ALL:
    ``intersectAll`` keeps each row min(multiplicity-left,
    multiplicity-right) times. The output carries BOTH the operator's
    observed multiplicity and the closed-form ``least(count_f,
    count_u)`` recomputed from plain aggregates, so the driver hash
    checks the bag identity itself, not just row counts — if Spark's
    count-tagged intersect dropped or duplicated an occurrence the two
    columns would diverge.

    Scale shape: Spark plans intersectAll as a count-tagged aggregation
    + generate — one shuffle per side on the key, no join of the raw
    multisets; the reconciliation aggregates are the same single
    exchanges.
    """
    orders = load_table(spark, sf_dir, "orders")
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_custkey"
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    observed = (
        fulfilled.intersectAll(urgent)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = (
        fulfilled.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cf"))
        .join(
            urgent.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cu")),
            "o_custkey",
        )
        .select("o_custkey", F.least("cf", "cu").alias("n_expected"))
    )
    return observed.join(expected, "o_custkey").select(
        "o_custkey", "n", "n_expected"
    )


#: Range-split planning: number of target partitions for the split-point
#: table (9 interior cuts -> 10 ranges).
RANGE_SPLIT_PARTS = 10


@register(
    "sort_range_split_points",
    category="sort",
    oracle="""
    WITH cuts(bucket, cut) AS (
        VALUES
            (1, (SELECT round(quantile_cont(o_totalprice, 0.1), 4) FROM orders)),
            (2, (SELECT round(quantile_cont(o_totalprice, 0.2), 4) FROM orders)),
            (3, (SELECT round(quantile_cont(o_totalprice, 0.3), 4) FROM orders)),
            (4, (SELECT round(quantile_cont(o_totalprice, 0.4), 4) FROM orders)),
            (5, (SELECT round(quantile_cont(o_totalprice, 0.5), 4) FROM orders)),
            (6, (SELECT round(quantile_cont(o_totalprice, 0.6), 4) FROM orders)),
            (7, (SELECT round(quantile_cont(o_totalprice, 0.7), 4) FROM orders)),
            (8, (SELECT round(quantile_cont(o_totalprice, 0.8), 4) FROM orders)),
            (9, (SELECT round(quantile_cont(o_totalprice, 0.9), 4) FROM orders))
    ), lagged AS (
        SELECT bucket, cut,
               lag(cut) OVER (ORDER BY bucket) AS prev_cut
        FROM cuts
    )
    SELECT l.bucket,
           l.cut,
           CAST(count(o.o_totalprice) FILTER (
               WHERE (l.prev_cut IS NULL OR o.o_totalprice > l.prev_cut)
                 AND o.o_totalprice <= l.cut) AS BIGINT) AS n_rows_in_range
    FROM lagged l, orders o
    GROUP BY l.bucket, l.cut
    """,
)
def sort_range_split_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sort planning primitive: exact range split points + balance.

    What a total ordering of 100 TB actually requires is not the sort —
    it is choosing RANGE BOUNDARIES that balance partitions (Spark's
    RangePartitioner does this by sampling; its boundaries are
    execution-dependent, so this operator computes the DETERMINISTIC
    exact-quantile equivalent that an oracle can check). Output: the 9
    interior decile cuts of ``o_totalprice`` plus the measured row count
    landing in each (prev_cut, cut] range — the balance audit that
    proves the cuts partition evenly. Rounded cuts are compared at 4dp
    (inputs carry 2 decimals; interpolation adds at most one more — the
    ``agg_percentiles`` rationale).

    Scale shape: one exact-percentile aggregate (at 100 TB: swap for
    ``approx_percentile``, whose t-digest partials merge map-side) and
    one scan assigning each row to its range by broadcast cut table —
    no global sort is ever materialized; this IS the plan a repartition-
    by-range executes, surfaced as data.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    fracs = [i / RANGE_SPLIT_PARTS for i in range(1, RANGE_SPLIT_PARTS)]
    # ONE array-percentile aggregate (a single sort buffer) instead of 9
    # scalar percentile aggregates each buffering the column.
    cuts = (
        orders.agg(
            F.percentile(
                "o_totalprice", F.array(*[F.lit(f) for f in fracs])
            ).alias("cs")
        )
        .select(F.posexplode("cs").alias("pos", "raw_cut"))
        .select(
            (F.col("pos") + 1).alias("bucket"),
            F.round("raw_cut", 4).alias("cut"),
        )
    )
    w = Window.orderBy("bucket")
    lagged = cuts.select(
        "bucket", "cut", F.lag("cut").over(w).alias("prev_cut")
    )
    joined = F.broadcast(lagged).crossJoin(orders)
    in_range = (
        F.col("prev_cut").isNull() | (F.col("o_totalprice") > F.col("prev_cut"))
    ) & (F.col("o_totalprice") <= F.col("cut"))
    return joined.groupBy("bucket", "cut").agg(
        F.sum(F.when(in_range, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rows_in_range")
    )


#: Rolling-median window length (trailing rows, current inclusive).
ROLLING_MEDIAN_ROWS = 5


@register(
    "window_rolling_median",
    category="window",
    oracle=f"""
    SELECT event_id, user_id,
           median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ROLLING_MEDIAN_ROWS - 1} PRECEDING
                        AND CURRENT ROW
           ) AS rolling_median
    FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over a trailing row frame — the robust smoother.

    The EWMA/moving-average smoothers already registered are
    mean-based and blow up on single spikes; the rolling median is the
    robust alternative every monitoring pipeline reaches for.  Spark
    has no ``median`` window function — the rewrite collects the
    trailing {ROLLING_MEDIAN_ROWS}-row frame as an array, sorts it, and
    takes the middle element (odd frame) or the IEEE-exact mean of the
    two middles (even frame — the warm-up rows).  ``(a+b)/2`` on
    identical doubles is bit-exact in both engines, so the result is
    UNROUNDED — per the repo's float discipline, never round a value
    both engines compute identically.

    Scale shape: one exchange on ``user_id``; the frame array is
    bounded at {ROLLING_MEDIAN_ROWS} elements per row, so the sort is
    O(1) per row and nothing materializes beyond the frame.
    """
    events = load_table(spark, sf_dir, "events")
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLING_MEDIAN_ROWS - 1), 0)
    )
    vals = F.array_sort(F.collect_list("value").over(frame))
    n = F.size(vals)
    mid_hi = F.element_at(vals, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(vals, ((n + 1) / 2).cast("int"))
    return events.select(
        "event_id",
        "user_id",
        ((mid_lo + mid_hi) / 2).alias("rolling_median"),
    )


@register(
    "agg_mode_exact",
    category="aggregate",
    oracle="""
    SELECT l_returnflag,
           mode_value,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM (
        SELECT l_returnflag, l_linestatus AS mode_value, count(*) AS n_occurrences,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY count(*) DESC, l_linestatus) AS rn
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    ) WHERE rn = 1
    """,
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value).

    Both engines HAVE a ``mode()`` aggregate, and neither defines which
    value wins a tie — so the portable form is counts + an explicit
    ranked window with a value tie-break.  That determinism is not
    pedantry: a modal "most common line status per flag" that flaps
    between runs poisons incremental downstream caches.

    Scale shape: map-side-combinable (group, value) counts — the
    shuffle moves distinct combinations, never rows — then the window
    ranks within each group's bounded value domain.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", F.col("l_linestatus").alias("mode_value")).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    win = Window.partitionBy("l_returnflag").orderBy(
        F.col("n_occurrences").desc(), "mode_value"
    )
    return (
        counts.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "mode_value",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
    )


#: Salt for the format-preserving digit substitution (versioned so a
#: rotation produces a fresh permutation).
FPM_SALT = "mask-v1"


@register(
    "transform_format_preserving_mask",
    category="transform",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(i AS VARCHAR) AS d,
               row_number() OVER (ORDER BY md5('{FPM_SALT}' || i)) - 1
                   AS masked
        FROM (SELECT unnest(range(0, 10)) AS i)
    ), tgt AS (
        SELECT string_agg(CAST(masked AS VARCHAR), '' ORDER BY d) AS t
        FROM digits
    )
    SELECT c_custkey,
           translate(c_name, '0123456789', tgt.t) AS masked_name,
           CAST(length(c_name) AS BIGINT) AS orig_len,
           CAST(length(translate(c_name, '0123456789', tgt.t)) AS BIGINT)
               AS masked_len
    FROM customer, tgt
    """,
)
def transform_format_preserving_mask(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Format-preserving masking: salt-derived digit substitution.

    ``transform_pseudonymize_consistent`` replaces identifiers with
    opaque hashes — correct for joins, useless for systems that
    VALIDATE formats (fixed-width loaders, checksummed account fields,
    UI display).  This operator masks digits in place: a permutation of
    0-9 derived by ranking ``md5(salt || digit)``, applied with
    ``translate`` — length, layout, and non-digit characters survive
    exactly (proven by the audited length columns).  Deterministic and
    consistent across tables sharing the salt; documented as
    obfuscation (a 10! keyspace), NOT cryptographic FPE — rotate
    ``FPM_SALT`` per release like the pseudonymization salts.

    Scale shape: the 10-row permutation reduces to ONE scalar translate
    target, broadcast with the literal; the mask itself is a narrow
    in-codegen expression — no join against the corpus, no UDF.
    """
    digits = spark.range(0, 10).select(
        F.col("id").cast("string").alias("d"),
        (
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.md5(F.concat(F.lit(FPM_SALT), F.col("id").cast("string")))
                )
            )
            - 1
        ).alias("masked"),
    )
    tgt = digits.orderBy("d").agg(
        F.concat_ws("", F.collect_list(F.col("masked").cast("string"))).alias(
            "t"
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    return cust.crossJoin(F.broadcast(tgt)).select(
        "c_custkey",
        F.expr("translate(c_name, '0123456789', t)").alias("masked_name"),
        F.length("c_name").cast("bigint").alias("orig_len"),
        F.length(F.expr("translate(c_name, '0123456789', t)"))
        .cast("bigint")
        .alias("masked_len"),
    )


#: Number of reconciliation buckets for the row-checksum digest.
CHECKSUM_BUCKETS = 16


@register(
    "transform_row_checksum_digest",
    category="transform",
    oracle=f"""
    WITH encoded AS (
        SELECT o_orderkey % {CHECKSUM_BUCKETS} AS bucket,
               md5(
                   CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' ||
                   coalesce(o_orderstatus, '<NULL>') || '|' ||
                   CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                        AS VARCHAR) || '|' ||
                   CAST(date_diff('microsecond',
                                  TIMESTAMP '1970-01-01 00:00:00',
                                  o_orderdate) AS VARCHAR) || '|' ||
                   coalesce(o_orderpriority, '<NULL>')
               ) AS row_hash
        FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(concat('0x', substr(row_hash, 1, 8)) AS BIGINT))
                AS BIGINT) AS digest_sum,
           min(row_hash) AS min_hash,
           max(row_hash) AS max_hash
    FROM encoded
    GROUP BY bucket
    """,
)
def transform_row_checksum_digest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-independent per-bucket row checksums — the replication audit.

    The reference's whole job is copying tables between systems
    (``CopyTableOperator``, the PG transports); this is the operator
    that PROVES a copy: a canonical per-row encoding (explicit ``|``
    separators, ``<NULL>`` sentinels, money as exact cents, timestamps
    as epoch microseconds — never engine-native string casts, whose
    float/timestamp formatting differs) hashed with md5, then folded
    into ORDER-INDEPENDENT per-bucket digests (count + sum of the
    leading-8-hex-digit integer + min/max hash).  Run on both sides of
    any transport: a diverging bucket localizes corruption to 1/{CHECKSUM_BUCKETS}
    of the keyspace without moving any data.

    Scale shape: hash and encode are narrow in-codegen expressions; the
    digest is one map-side-combinable aggregate onto {CHECKSUM_BUCKETS}
    buckets — the whole audit is one scan, and the digests it ships are
    bytes, not rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    encoded = orders.select(
        (F.col("o_orderkey") % CHECKSUM_BUCKETS).alias("bucket"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.coalesce(F.col("o_orderstatus"), F.lit("<NULL>")),
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .cast("string"),
                F.expr(
                    "CAST(timestampdiff(MICROSECOND,"
                    " TIMESTAMP '1970-01-01 00:00:00', o_orderdate)"
                    " AS STRING)"
                ),
                F.coalesce(F.col("o_orderpriority"), F.lit("<NULL>")),
            )
        ).alias("row_hash"),
    )
    return encoded.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.expr("CAST(conv(substr(row_hash, 1, 8), 16, 10) AS BIGINT)")
        )
        .cast("bigint")
        .alias("digest_sum"),
        F.min("row_hash").alias("min_hash"),
        F.max("row_hash").alias("max_hash"),
    )


@register(
    "transform_interval_coalesce",
    category="transform",
    oracle="""
    WITH ranges AS (
        SELECT o_custkey AS key,
               o_orderdate AS lo,
               o_orderdate + to_days(CAST(o_orderkey % 30 + 1 AS INTEGER))
                   AS hi
        FROM orders
    ), walk AS (
        SELECT key, lo, hi,
               CASE WHEN lo <= max(hi) OVER (
                        PARTITION BY key ORDER BY lo, hi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS is_new
        FROM ranges
    ), islands AS (
        SELECT key, lo, hi,
               sum(is_new) OVER (PARTITION BY key ORDER BY lo, hi
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS island
        FROM walk
    )
    SELECT key,
           min(lo) AS valid_from,
           max(hi) AS valid_to,
           CAST(count(*) AS BIGINT) AS n_source_ranges
    FROM islands
    GROUP BY key, island
    """,
)
def transform_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping validity ranges into disjoint intervals per key.

    The temporal-data normalizer: per customer, overlapping order
    activity windows (synthesized ``[o_orderdate, +1..30d)`` spans)
    collapse into maximal disjoint intervals — the precondition for
    every point-in-time join and effective-dating model, and the
    general form of the islands idiom the SCD operators use on
    POINTS.  Overlap detection is the running-max-of-ends window
    (``lo <= max(hi) over preceding``): correct even when a long range
    swallows later ones — the classic bug in naive ``lag(hi)``
    versions.  The first row starts an island through the NULL CASE in
    both engines; all timestamps pass through untouched (no arithmetic
    to diverge on).

    Scale shape: one exchange on the key; both windows and the final
    aggregate share that partitioning — Spark plans a single sort, no
    joins, one scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    ranges = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("lo"),
        F.expr(
            "o_orderdate + make_interval(0, 0, 0,"
            " CAST(o_orderkey % 30 + 1 AS INT), 0, 0, 0)"
        ).alias("hi"),
    )
    prev = (
        Window.partitionBy("key")
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    walk = ranges.select(
        "key",
        "lo",
        "hi",
        F.when(F.col("lo") <= F.max("hi").over(prev), 0)
        .otherwise(1)
        .alias("is_new"),
    )
    run = (
        Window.partitionBy("key")
        .orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = walk.select(
        "key", "lo", "hi", F.sum("is_new").over(run).alias("island")
    )
    return islands.groupBy("key", "island").agg(
        F.min("lo").alias("valid_from"),
        F.max("hi").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_source_ranges"),
    ).drop("island")


@register(
    "window_max_drawdown",
    category="window",
    oracle="""
    WITH walk AS (
        SELECT o_custkey, equity,
               max(equity) OVER (PARTITION BY o_custkey
                                 ORDER BY rn
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS peak
        FROM (
            SELECT o_custkey, equity,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS rn
            FROM (
                SELECT o_custkey, o_orderdate, o_orderkey,
                       sum(CAST(round(o_totalprice * 100) AS BIGINT)
                           * CASE WHEN o_orderkey % 3 = 0
                                  THEN -1 ELSE 1 END)
                           OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS equity
                FROM orders
            )
        )
    )
    SELECT o_custkey,
           CAST(max(peak - equity) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(count(*) AS BIGINT) AS n_points
    FROM walk
    GROUP BY o_custkey
    """,
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per key: peak-to-trough of a running balance.

    The nested-running-aggregate window shape (cumsum, then running max
    OF the cumsum, then the max gap) that trips naive rewrites — a
    single window spec cannot express it; two stacked ordered frames
    over the SAME partitioning can, and Spark plans them in one sort.
    The balance alternates sign on every third order (a synthetic
    debit/credit stream in exact cents), so drawdowns actually occur;
    all arithmetic is BIGINT.

    Scale shape: one exchange on the key; both ordered frames and the
    final per-key aggregate share it — single sort, no joins, one scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    signed = F.round(F.col("o_totalprice") * 100).cast("bigint") * F.when(
        F.col("o_orderkey") % 3 == 0, -1
    ).otherwise(1)
    wseq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        F.sum(signed).over(wseq).alias("equity"),
    )
    # Same ORDER BY columns as wseq so Catalyst reuses the one sort —
    # ordering by a derived row_number would force a second Sort.
    wrun = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = seq.select(
        "o_custkey", "equity", F.max("equity").over(wrun).alias("peak")
    )
    return walk.groupBy("o_custkey").agg(
        F.max(F.col("peak") - F.col("equity"))
        .cast("bigint")
        .alias("max_drawdown_cents"),
        F.max("peak").cast("bigint").alias("peak_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
    )


@register(
    "window_reset_cumsum",
    category="window",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS is_reset
        FROM orders
    ), cum AS (
        SELECT *,
               sum(is_reset) OVER w AS segment,
               sum(cents) OVER w AS cum_cents
        FROM base
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ), anchored AS (
        SELECT *,
               max(CASE WHEN is_reset = 1
                        THEN cum_cents - cents END) OVER w AS anchor
        FROM cum
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, o_orderkey,
           CAST(segment AS BIGINT) AS segment,
           CAST(cum_cents - coalesce(anchor, 0) AS BIGINT) AS run_cents
    FROM anchored
    WHERE o_custkey % 50 = 0
    """,
)
def window_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with conditional reset — in ONE window partition.

    "Cumulative spend since the customer's last URGENT order" is the
    window shape plain ``sum() OVER`` cannot express: the frame start
    MOVES with the data.  The textbook fix (segment id = running count
    of resets, then cumsum per (key, segment)) costs a SECOND exchange
    — Catalyst cannot know (key, segment) refines (key).  The anchored
    form stays in one partitioning: with cents strictly positive the
    running total ``cum`` is increasing, so the latest reset's
    pre-reset total is simply the running MAX of ``cum - cents`` over
    reset rows, and ``run = cum - coalesce(anchor, 0)`` — the marker
    row starts its own segment (its anchor excludes its own cents).
    All three window functions share one (custkey) Exchange + one
    (date, orderkey) Sort; the physical plan has exactly one shuffle.
    Money stays exact: cents as BIGINT, never float.  The final
    ``custkey % 50`` cut keeps the driver hash small; the windows run
    on the full table first, so the computation is the real thing.

    Scale shape: one shuffle on the partition key, one sort, pipelined
    Window operators, zero joins; per-key frame state is O(1).
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias(
            "is_reset"
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = base.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "cents",
        "is_reset",
        F.sum("is_reset").over(w).alias("segment"),
        F.sum("cents").over(w).alias("cum_cents"),
    )
    anchored = cum.select(
        "o_custkey",
        "o_orderkey",
        "segment",
        "cum_cents",
        F.max(
            F.when(
                F.col("is_reset") == 1,
                F.col("cum_cents") - F.col("cents"),
            )
        )
        .over(w)
        .alias("anchor"),
    )
    return anchored.filter(F.col("o_custkey") % 50 == 0).select(
        "o_custkey",
        "o_orderkey",
        F.col("segment").cast("bigint").alias("segment"),
        (F.col("cum_cents") - F.coalesce(F.col("anchor"), F.lit(0)))
        .cast("bigint")
        .alias("run_cents"),
    )


#: Threshold making the NOT IN probe side selective but non-empty.
NOT_IN_PRICE_FLOOR = 350000.0


@register(
    "join_not_in_null_semantics",
    category="join",
    oracle=f"""
    WITH probe AS (
        SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                    ELSE o_custkey END AS k
        FROM orders WHERE o_totalprice > {NOT_IN_PRICE_FLOOR}
    )
    SELECT
        CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_customers,
        CAST((SELECT count(*) FROM customer
              WHERE c_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
            AS n_not_in,
        CAST((SELECT count(*) FROM customer c
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = c.c_custkey)) AS BIGINT)
            AS n_not_exists,
        CAST((SELECT count(*) FROM probe WHERE k IS NULL) AS BIGINT)
            AS n_null_probes
    """,
)
def join_not_in_null_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NOT IN vs NOT EXISTS under NULLs — the three-valued-logic trap.

    The most common silent-wrong-answer in migrated SQL: ``NOT IN
    (subquery)`` is three-valued — ONE NULL in the probe makes
    ``x NOT IN (...)`` UNKNOWN for every x, so the result is EMPTY,
    while ``NOT EXISTS`` (two-valued, null-rejecting equi-predicate)
    returns the rows the author almost always meant.  The probe side
    nulls every 97th key deterministically; the audit row carries all
    four counts so the trap is visible in data: n_not_in = 0 while
    n_not_exists > 0.  Spark plans the NOT IN as a null-aware anti
    join (BroadcastHashJoin ... LeftAnti, isnull-or condition) — an
    engine-level construct this registry otherwise never exercises,
    value-checked here against DuckDB's identical semantics.

    Scale shape: both anti joins broadcast the probe when it is
    dimension-sized; the null-aware variant degenerates to checking
    one boolean (any null present) plus the hash probe — same cost
    class as the plain anti join.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    orders.createOrReplaceTempView("__nin_orders")
    customer.createOrReplaceTempView("__nin_customer")
    return spark.sql(
        f"""
        WITH probe AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE o_custkey END AS k
            FROM __nin_orders WHERE o_totalprice > {NOT_IN_PRICE_FLOOR}
        )
        SELECT
            CAST((SELECT count(*) FROM __nin_customer) AS BIGINT)
                AS n_customers,
            CAST((SELECT count(*) FROM __nin_customer
                  WHERE c_custkey NOT IN (SELECT k FROM probe)) AS BIGINT)
                AS n_not_in,
            CAST((SELECT count(*) FROM __nin_customer c
                  WHERE NOT EXISTS (SELECT 1 FROM probe p
                                    WHERE p.k = c.c_custkey)) AS BIGINT)
                AS n_not_exists,
            CAST((SELECT count(*) FROM probe WHERE k IS NULL) AS BIGINT)
                AS n_null_probes
        """
    )


@register(
    "join_null_safe_eq",
    category="join",
    oracle="""
    WITH a AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 13 = 0 THEN NULL
                    ELSE c_nationkey END AS nk
        FROM customer
    ), b AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 7 = 0 THEN NULL
                    ELSE s_nationkey END AS nk
        FROM supplier
    )
    SELECT CASE WHEN a.nk IS NULL THEN -1
                ELSE CAST(a.nk AS BIGINT) END AS nation_key,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT a.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT b.s_suppkey) AS BIGINT) AS n_suppliers
    FROM a JOIN b ON a.nk IS NOT DISTINCT FROM b.nk
    GROUP BY 1
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>``): NULL keys match each other.

    Plain ``=`` silently drops every NULL-keyed row from an inner join
    — correct for foreign keys, wrong for "unknown bucket" semantics
    (sessionless events, unresolved entities) where the NULLs should
    group TOGETHER.  Spark's ``<=>`` (SQL ``IS NOT DISTINCT FROM``) is
    the engine primitive for that; crucially it stays a HASH join key
    (null-safe equality is still an equi-predicate — the planner hashes
    a null-normalized key) rather than falling to a nested-loop theta
    join.  Keys are nulled deterministically on both sides; the
    NULL-match group is reported as nation_key = -1 alongside the
    ordinary groups, value-checked against DuckDB's
    ``IS NOT DISTINCT FROM``.

    Scale shape: one hash join on the null-normalized key + a
    bounded-key aggregate; the NULL group is one key — if it were hot,
    the salting playbook applies like any skewed key.
    """
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    a = customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("nk_a"),
    )
    b = supplier.select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 7 == 0, None)
        .otherwise(F.col("s_nationkey"))
        .alias("nk_b"),
    )
    joined = a.join(b, F.col("nk_a").eqNullSafe(F.col("nk_b")))
    return (
        joined.groupBy(
            F.when(F.col("nk_a").isNull(), F.lit(-1))
            .otherwise(F.col("nk_a"))
            .cast("bigint")
            .alias("nation_key")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
            F.countDistinct("s_suppkey").cast("bigint").alias("n_suppliers"),
        )
    )


#: Shared skewness/kurtosis formula over exact integer raw moments —
#: the SAME expression text runs in Spark and DuckDB, so the IEEE
#: operation order (and therefore every output bit) is identical.
#: Inputs: n, s1..s4 = count and Σx^k of integer whole-dollar prices.
_MOMENT_FORMULA = """
        CAST(n AS BIGINT) AS n,
        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_dollars,
        (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS variance,
        ((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
          - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
          + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        / pow((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 1.5) AS skewness,
        ((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
          - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
          + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
          - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
        / (((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
          * ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) - 3.0
            AS excess_kurtosis
"""


@register(
    "agg_skewness_kurtosis",
    category="aggregate",
    oracle=f"""
    WITH m AS (
        SELECT o_orderpriority,
               count(*) AS n,
               sum(CAST(round(o_totalprice) AS HUGEINT)) AS s1,
               sum(CAST(round(o_totalprice) AS HUGEINT)
                 * CAST(round(o_totalprice) AS HUGEINT)) AS s2,
               sum(CAST(round(o_totalprice) AS HUGEINT)
                 * CAST(round(o_totalprice) AS HUGEINT)
                 * CAST(round(o_totalprice) AS HUGEINT)) AS s3,
               sum(CAST(round(o_totalprice) AS HUGEINT)
                 * CAST(round(o_totalprice) AS HUGEINT)
                 * CAST(round(o_totalprice) AS HUGEINT)
                 * CAST(round(o_totalprice) AS HUGEINT)) AS s4
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, {_MOMENT_FORMULA}
    FROM m
    """,
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis from EXACT integer raw moments.

    The higher-moment distribution screens (is the long tail real?
    is the distribution heavy-tailed enough to need winsorizing?)
    done the engine-exact way: each engine's built-in skewness/
    kurtosis uses its own merge order and its own estimator family
    (Spark population g1, DuckDB sample G1), so the builtins can
    never hash-match.  Instead the raw moments Σx..Σx⁴ accumulate as
    EXACT wide integers on whole-dollar prices (DECIMAL(38,0) in
    Spark, HUGEINT in DuckDB — identical integers, immune to float
    summation order), and one shared closed-form expression text
    (``_MOMENT_FORMULA`` — literally the same string in builder and
    oracle) converts them, so even the IEEE operation order matches
    bit-for-bit.  Emits mean/variance/skewness/excess-kurtosis per
    priority class.

    Scale shape: a plain combinable groupBy aggregate (map-side
    partials); the formula is a 5-row projection.  Σx⁴ of d-dollar
    values over r rows needs log10(d⁴·r) < 38 digits — at 1e12 rows
    of 1e5-dollar prices that is 10^32, still inside DECIMAL(38);
    recentre on an approximate mean first if values outgrow it.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = F.expr("CAST(round(o_totalprice) AS DECIMAL(38, 0))")
    m = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.sum(d * d * d).alias("s3"),
        F.sum(d * d * d * d).alias("s4"),
    )
    return m.selectExpr("o_orderpriority", *_MOMENT_FORMULA.split(",\n"))


def _det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
    """3x3 determinant as SQL expression TEXT — same string in both
    engines, so IEEE evaluation order is identical."""
    return (
        f"({a11}) * (({a22}) * ({a33}) - ({a23}) * ({a32}))"
        f" - ({a12}) * (({a21}) * ({a33}) - ({a23}) * ({a31}))"
        f" + ({a13}) * (({a21}) * ({a32}) - ({a22}) * ({a31}))"
    )


def _ols2_select() -> str:
    """Shared closed-form 2-feature OLS solve (normal equations via
    Cramer's rule) over exact moment columns n,s1,s2,sy,s11,s12,s22,
    s1y,s2y. Returns the SELECT-list text both engines run."""
    cols = {
        "N": "CAST(n AS DOUBLE)",
        "S1": "CAST(s1 AS DOUBLE)",
        "S2": "CAST(s2 AS DOUBLE)",
        "SY": "CAST(sy AS DOUBLE)",
        "S11": "CAST(s11 AS DOUBLE)",
        "S12": "CAST(s12 AS DOUBLE)",
        "S22": "CAST(s22 AS DOUBLE)",
        "S1Y": "CAST(s1y AS DOUBLE)",
        "S2Y": "CAST(s2y AS DOUBLE)",
    }
    d = _det3(cols["N"], cols["S1"], cols["S2"],
              cols["S1"], cols["S11"], cols["S12"],
              cols["S2"], cols["S12"], cols["S22"])
    d0 = _det3(cols["SY"], cols["S1"], cols["S2"],
               cols["S1Y"], cols["S11"], cols["S12"],
               cols["S2Y"], cols["S12"], cols["S22"])
    d1 = _det3(cols["N"], cols["SY"], cols["S2"],
               cols["S1"], cols["S1Y"], cols["S12"],
               cols["S2"], cols["S2Y"], cols["S22"])
    d2 = _det3(cols["N"], cols["S1"], cols["SY"],
               cols["S1"], cols["S11"], cols["S1Y"],
               cols["S2"], cols["S12"], cols["S2Y"])
    return f"""
        CAST(n AS BIGINT) AS n,
        ({d0}) / ({d}) AS intercept_cents,
        ({d1}) / ({d}) AS beta_quantity,
        ({d2}) / ({d}) AS beta_discount_bp
    """


@register(
    "agg_ols_two_features",
    category="aggregate",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS HUGEINT)) AS s1,
               sum(CAST(round(l_discount * 10000) AS HUGEINT)) AS s2,
               sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
               sum(CAST(l_quantity AS HUGEINT)
                 * CAST(l_quantity AS HUGEINT)) AS s11,
               sum(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_discount * 10000) AS HUGEINT)) AS s12,
               sum(CAST(round(l_discount * 10000) AS HUGEINT)
                 * CAST(round(l_discount * 10000) AS HUGEINT)) AS s22,
               sum(CAST(l_quantity AS HUGEINT)
                 * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS s1y,
               sum(CAST(round(l_discount * 10000) AS HUGEINT)
                 * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS s2y
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, {_ols2_select()}
    FROM m
    """,
)
def agg_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression AS AN AGGREGATE — closed-form, exact.

    The distributed-ML primitive behind every "fit a line to the
    firehose": price ~ quantity + discount per return flag, solved in
    closed form from the NORMAL EQUATIONS.  The nine sufficient
    statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂², Σx₁y, Σx₂y)
    accumulate as EXACT wide integers on integer-scaled units (cents,
    quantity, discount bp) — one map-side-combinable aggregate and the
    whole regression is solved; no gradient steps, no second pass, no
    float summation-order nondeterminism.  The 3×3 Cramer solve is one
    shared expression text (``_det3``/``_ols2_select`` — literally the
    same string in builder and oracle) so the IEEE operation order,
    and therefore every output bit, matches.  Generalizes
    ``udf_apply_in_arrow_regression`` (one feature, per-group UDF) to
    two features with ZERO Python.

    Scale shape: one scan, one bounded-key combinable aggregate, a
    5-row projection.  Σx₁x₂y-class moments of scaled values fit
    DECIMAL(38) to ~10^12 rows (see ``agg_skewness_kurtosis``);
    recentre features first beyond that.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    q = F.expr("CAST(l_quantity AS DECIMAL(38, 0))")
    disc = F.expr("CAST(round(l_discount * 10000) AS DECIMAL(38, 0))")
    y = F.expr("CAST(round(l_extendedprice * 100) AS DECIMAL(38, 0))")
    m = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s1"),
        F.sum(disc).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(q * q).alias("s11"),
        F.sum(q * disc).alias("s12"),
        F.sum(disc * disc).alias("s22"),
        F.sum(q * y).alias("s1y"),
        F.sum(disc * y).alias("s2y"),
    )
    return m.selectExpr(
        "l_returnflag",
        *[e for e in _ols2_select().split(",\n") if e.strip()],
    )


@register(
    "window_pareto_front",
    category="window",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS recency_days
        FROM orders WHERE o_custkey % 25 = 0
    ), ranked AS (
        SELECT *,
               max(recency_days) OVER (
                   ORDER BY price_cents DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_recency_so_far
        FROM pts
    )
    SELECT o_orderkey, price_cents, recency_days
    FROM ranked
    WHERE best_recency_so_far IS NULL
       OR recency_days > best_recency_so_far
    """,
)
def window_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) via one sort + one running max.

    The dominance query behind "best trade-offs" shortlists (price vs
    recency here; latency vs cost, quality vs size in general): a row
    is on the front iff NO other row beats it on both axes.  The
    naive form is the quadratic anti-self-join; the sort-based
    algorithm is one pass — order by axis 1 descending, keep a row
    iff its axis-2 value beats the running max over every
    already-better-on-axis-1 row (the ``1 PRECEDING`` frame handles
    axis-1 ties as non-dominating, with the key tiebreak making the
    order total and both engines identical).

    Scale shape: one global sort (range-partitioned at scale) + one
    O(1)-state running frame — the same physics as
    ``events_watermark_audit``'s arrival-order max; no join, no
    explode.  A k-dimensional front falls back to blocked dominance
    joins; 2-D is the common case and is linear after the sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.filter(F.col("o_custkey") % 25 == 0).select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE),"
            " DATE '1995-01-01') AS BIGINT)"
        ).alias("recency_days"),
    )
    w = (
        Window.partitionBy()
        .orderBy(F.desc("price_cents"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = pts.withColumn(
        "best_recency_so_far", F.max("recency_days").over(w)
    )
    return ranked.filter(
        F.col("best_recency_so_far").isNull()
        | (F.col("recency_days") > F.col("best_recency_so_far"))
    ).select("o_orderkey", "price_cents", "recency_days")


@register(
    "agg_hll_intersection_ie",
    category="aggregate",
    oracle="""
    WITH pairs AS (
        SELECT a.o_orderpriority AS p1, b.o_orderpriority AS p2
        FROM (SELECT DISTINCT o_orderpriority FROM orders) a
        JOIN (SELECT DISTINCT o_orderpriority FROM orders) b
          ON a.o_orderpriority < b.o_orderpriority
    ), exact AS (
        SELECT p.p1, p.p2,
               (SELECT count(DISTINCT o_custkey) FROM orders
                WHERE o_orderpriority = p.p1) AS n_a,
               (SELECT count(DISTINCT o_custkey) FROM orders
                WHERE o_orderpriority = p.p2) AS n_b,
               (SELECT count(DISTINCT o_custkey) FROM orders
                WHERE o_orderpriority IN (p.p1, p.p2)) AS n_union,
               (SELECT count(DISTINCT o.o_custkey) FROM orders o
                WHERE o.o_orderpriority = p.p1
                  AND EXISTS (SELECT 1 FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey
                                AND o2.o_orderpriority = p.p2))
                   AS n_intersect
        FROM pairs p
    )
    SELECT p1, p2,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(n_intersect AS BIGINT) AS n_intersect_exact,
           CAST(n_union AS BIGINT) AS n_union_exact,
           true AS hll_ie_within_tol
    FROM exact
    """,
)
def agg_hll_intersection_ie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL intersection by inclusion-exclusion — with its error honest.

    HLL sketches union natively but CANNOT intersect; the folk answer
    is inclusion-exclusion (|A∩B| = |A|+|B|-|A∪B|) whose error scales
    with the UNION's size, not the intersection's — tiny overlaps of
    big sets drown in sketch noise, which is exactly why the KMV/theta
    family (``agg_kmv_intersection``) exists.  This audit runs the
    technique honestly: per priority-class pair, three lgK=14 HLL
    estimates feed the I-E identity, compared in-query against the
    exact intersection with a tolerance scaled to the UNION (3% of
    n_union — the theoretically right yardstick), emitted as the
    ``agg_hll_sketch``-style tolerance bit.  The exact I-E identity
    on true counts rides along, proving the algebra (not just the
    sketches) against the semi-join oracle.

    Scale shape: per-class sketches build in ONE combinable aggregate
    pass; pair algebra runs on CLASS-cardinality rows.  The exact
    columns are the bounded verification baseline.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_class = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk"),
        F.count_distinct("o_custkey").alias("n_exact"),
    )
    a = per_class.alias("a")
    b = per_class.alias("b")
    paired = a.join(
        b, F.col("a.o_orderpriority") < F.col("b.o_orderpriority")
    ).select(
        F.col("a.o_orderpriority").alias("p1"),
        F.col("b.o_orderpriority").alias("p2"),
        F.col("a.n_exact").alias("n_a_exact"),
        F.col("b.n_exact").alias("n_b_exact"),
        F.hll_sketch_estimate(F.col("a.sk")).alias("est_a"),
        F.hll_sketch_estimate(F.col("b.sk")).alias("est_b"),
        F.hll_sketch_estimate(
            F.hll_union(F.col("a.sk"), F.col("b.sk"))
        ).alias("est_union"),
    )
    # Exact intersection / union per pair from one extra bounded agg.
    pairs_exact = (
        orders.select("o_custkey", "o_orderpriority")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.collect_set("o_orderpriority").alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, x ->"
                    " transform(filter(ps, y -> y > x),"
                    " y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_intersect_exact"))
    )
    joined = paired.join(pairs_exact, ["p1", "p2"], "left").na.fill(
        {"n_intersect_exact": 0}
    )
    ie_est = F.col("est_a") + F.col("est_b") - F.col("est_union")
    n_union_exact = (
        F.col("n_a_exact") + F.col("n_b_exact") - F.col("n_intersect_exact")
    )
    # Spark derives the union via the I-E identity on independently
    # computed exacts; the oracle counts the union directly — matching
    # proves the identity as well as the counts.
    return joined.select(
        "p1",
        "p2",
        F.col("n_a_exact").cast("bigint").alias("n_a"),
        F.col("n_b_exact").cast("bigint").alias("n_b"),
        F.col("n_intersect_exact").cast("bigint").alias(
            "n_intersect_exact"
        ),
        n_union_exact.cast("bigint").alias("n_union_exact"),
        (
            F.abs(ie_est - F.col("n_intersect_exact"))
            <= 0.03 * n_union_exact
        ).alias("hll_ie_within_tol"),
    )


#: t-closeness threshold: a released QI group's sensitive-value
#: distribution may differ from the global one by at most this total
#: variation distance.
T_CLOSENESS = 0.2


@register(
    "transform_t_closeness",
    category="transform",
    oracle=f"""
    WITH banded AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / {L_DIV_BAND}) AS INT) AS bal_band
        FROM customer
    ), cells AS (
        SELECT c_nationkey, bal_band, c_mktsegment, count(*) AS c_gs
        FROM banded GROUP BY c_nationkey, bal_band, c_mktsegment
    ), groups AS (
        SELECT c_nationkey, bal_band, sum(c_gs) AS n_g
        FROM cells GROUP BY c_nationkey, bal_band
    ), seg AS (
        SELECT c_mktsegment, count(*) AS c_s FROM banded GROUP BY c_mktsegment
    ), total AS (
        SELECT count(*) AS n FROM banded
    ), grid AS (
        SELECT g.c_nationkey, g.bal_band, g.n_g, s.c_mktsegment, s.c_s, t.n,
               coalesce(c.c_gs, 0) AS c_gs
        FROM groups g
        CROSS JOIN seg s
        CROSS JOIN total t
        LEFT JOIN cells c
          ON c.c_nationkey = g.c_nationkey AND c.bal_band = g.bal_band
         AND c.c_mktsegment = s.c_mktsegment
    )
    SELECT c_nationkey, bal_band,
           CAST(min(n_g) AS BIGINT)                 AS group_size,
           CAST(sum(abs(c_gs * n - c_s * n_g)) AS BIGINT) AS tvd_numerator,
           sum(abs(c_gs * n - c_s * n_g)) / (2.0 * min(n_g) * min(n))
               AS t_closeness,
           5 * sum(abs(c_gs * n - c_s * n_g))
               > 2 * min(n_g) * min(n)              AS breached
    FROM grid
    GROUP BY c_nationkey, bal_band
    """,
)
def transform_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: QI-group sensitive distributions vs the global.

    The attack l-diversity misses: a group can carry l distinct sensitive
    values yet still leak if its *distribution* is skewed far from the
    population's (Li et al., ICDE 2007). For the categorical sensitive
    attribute the prescribed distance is total variation: t(group) =
    ½ Σ_s |p_group(s) − p_global(s)|. Everything before the final ratio
    is integer — the per-cell term is |c_gs·N − C_s·n_g| and the breach
    gate ``5·Σ > 2·n_g·N`` is the exact T=0.2 comparison with no float
    boundary — so 1000 executors, DuckDB and a laptop agree bit-for-bit.
    Completes the de-identification quartet (pseudonymize / k-anonymize /
    l-diversity / this).

    Scale shape: the cells/groups/segment histograms all have
    QI-domain-bounded cardinality and aggregate map-side; the grid is
    (bounded groups) x (bounded segments) with two 1-row/5-row broadcast
    cross joins; the released table itself never shuffles. The integer
    products stay exact while n_g·N < 2^63 (N ≈ 3·10^9 at worst-case
    group sizes); past that, cast the term to DECIMAL(38,0) in both
    engines — same plan, exactness preserved (the pattern
    ``agg_decimal_exact_revenue`` demonstrates).
    """
    customer = load_table(spark, sf_dir, "customer")
    banded = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / L_DIV_BAND).cast("int").alias("bal_band"),
    )
    cells = banded.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("c_gs")
    )
    groups = cells.groupBy("c_nationkey", "bal_band").agg(
        F.sum("c_gs").alias("n_g")
    )
    seg = banded.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("c_s"))
    total = banded.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        groups.crossJoin(F.broadcast(seg))
        .crossJoin(F.broadcast(total))
        .join(
            cells,
            ["c_nationkey", "bal_band", "c_mktsegment"],
            "left",
        )
        .withColumn("c_gs", F.coalesce(F.col("c_gs"), F.lit(0)))
    )
    term = F.abs(F.col("c_gs") * F.col("n") - F.col("c_s") * F.col("n_g"))
    return grid.groupBy("c_nationkey", "bal_band").agg(
        F.min("n_g").cast("bigint").alias("group_size"),
        F.sum(term).cast("bigint").alias("tvd_numerator"),
        (
            F.sum(term) / (2.0 * F.min("n_g") * F.min("n"))
        ).alias("t_closeness"),
        (
            5 * F.sum(term) > 2 * F.min("n_g") * F.min("n")
        ).alias("breached"),
    )


@register(
    "setop_symmetric_diff_all",
    category="setop",
    oracle="""
    WITH f AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ), u AS (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ), only_f AS (
        SELECT o_custkey FROM f EXCEPT ALL SELECT o_custkey FROM u
    ), only_u AS (
        SELECT o_custkey FROM u EXCEPT ALL SELECT o_custkey FROM f
    ), tagged AS (
        SELECT o_custkey, 'left_only' AS side FROM only_f
        UNION ALL
        SELECT o_custkey, 'right_only' AS side FROM only_u
    )
    SELECT o_custkey, side, CAST(count(*) AS BIGINT) AS n
    FROM tagged
    GROUP BY o_custkey, side
    """,
)
def setop_symmetric_diff_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag symmetric difference: occurrence-level divergence of two sides.

    The reconciliation primitive table-diff tools are built on: which
    rows (WITH multiplicity) exist only on one side. ``exceptAll`` in
    each direction subtracts occurrences, not membership — a customer
    with 3 fulfilled and 1 urgent order contributes 2 ``left_only``
    rows — then both residues are tagged and re-counted. Completes the
    multiset algebra next to ``setop_intersect_all`` (bag ∩) and
    ``set_ops_multiset`` (one-sided bag −).

    Scale shape: Spark plans each ``exceptAll`` as a count-tagged
    aggregation + generate (no join, one shuffle on the key), the union
    is free, and the final rollup reuses the same key partitioning.
    Both inputs arrive column-pruned from the same scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    u = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    tagged = f.exceptAll(u).withColumn("side", F.lit("left_only")).unionByName(
        u.exceptAll(f).withColumn("side", F.lit("right_only"))
    )
    return tagged.groupBy("o_custkey", "side").agg(
        F.count(F.lit(1)).alias("n")
    )
