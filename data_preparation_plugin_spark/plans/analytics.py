"""Product-analytics shapes: funnel, retention cohorts, SCD2 history.

The reference's users run its loaded tables through downstream analytics
SQL (SURVEY.md §2.B); these queries cover the classic event-analytics
vocabulary that a warehouse built on the reference would serve — ordered
funnel conversion, cohort retention, slowly-changing-dimension history —
each as a declarative single-lineage Spark plan with a DuckDB oracle.

Scale notes: every query here shuffles on exactly one key (``user_id`` or
``o_custkey``); windows and the final aggregate reuse that exchange, so the
shapes hold at 100 TB the same way the TPC-H windows do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_preparation_plugin_spark.plans.registry import (
    load_table,
    query_cache,
    register,
)


@register(
    "events_funnel_conversion",
    category="events",
    oracle="""
    WITH fv AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ), fc AS (
        SELECT e.user_id, min(e.ts) AS first_click
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click' AND e.ts > fv.first_view
        GROUP BY e.user_id
    ), fp AS (
        SELECT e.user_id, min(e.ts) AS first_purchase
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase' AND e.ts > fc.first_click
        GROUP BY e.user_id
    )
    SELECT fv.user_id,
           fv.first_view,
           fc.first_click,
           fp.first_purchase,
           fc.first_click    IS NOT NULL AS reached_click,
           fp.first_purchase IS NOT NULL AS reached_purchase
    FROM fv
    LEFT JOIN fc ON fv.user_id = fc.user_id
    LEFT JOIN fp ON fv.user_id = fp.user_id
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel, strictly time-ordered.

    Each stage is the *first* qualifying event strictly after the previous
    stage's timestamp — the semantics product funnels actually need (a
    purchase before the first click does not convert). Implemented as
    three stacked whole-partition window minimums over one ``user_id``
    exchange (each stage's ``when`` condition reads the previous stage's
    window column), then a per-user collapse that reuses the same
    partitioning — the physical plan carries exactly ONE exchange and one
    sort, where the naive formulation (three aggregates chained by
    equi-joins, as the oracle is written) costs 10. Same values, pinned
    by the oracle hash.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    staged = (
        events.withColumn(
            "first_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "first_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("first_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return (
        staged.filter(F.col("first_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("first_view").alias("first_view"),
            F.min("first_click").alias("first_click"),
            F.min("first_purchase").alias("first_purchase"),
        )
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            F.col("first_click").isNotNull().alias("reached_click"),
            F.col("first_purchase").isNotNull().alias("reached_purchase"),
        )
    )


@register(
    "events_retention_cohort",
    category="events",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT
               f.cohort_day,
               e.user_id,
               CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                          / 7.0) AS BIGINT) AS week_offset
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT cohort_day, week_offset, count(*) AS n_active_users
    FROM activity
    GROUP BY cohort_day, week_offset
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: first-seen day × week offset → active users.

    Week offsets are day-difference based (``floor(days/7)``) rather than
    calendar ``date_trunc('week')`` so both engines share one unambiguous
    definition. The first-seen date is a whole-partition window minimum
    (not an aggregate + self-join, as the oracle spells it), and the
    retention-dedup distinct keeps ``user_id`` in its key — Spark sees
    that the existing hash-partitioning on ``user_id`` already clusters
    the distinct's full key, so the plan carries just two exchanges:
    one on ``user_id``, one on the small (cohort, offset) pair.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    cohort = F.min("ts").over(w).cast("date")
    activity = (
        events.select(
            cohort.alias("cohort_day"),
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), cohort) / 7.0
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "transform_scd2",
    category="transform",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), flagged AS (
        SELECT *,
               CASE WHEN prev_status IS NULL
                         OR prev_status <> o_orderstatus
                    THEN 1 ELSE 0 END AS is_change
        FROM ordered
    ), runs AS (
        SELECT *,
               CAST(sum(is_change) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS version
        FROM flagged
    ), grouped AS (
        SELECT o_custkey, version, o_orderstatus AS status,
               min(o_orderdate) AS valid_from,
               count(*)         AS n_orders
        FROM runs
        GROUP BY o_custkey, version, o_orderstatus
    )
    SELECT o_custkey, version, status, valid_from,
           lead(valid_from) OVER v AS valid_to,
           lead(valid_from) OVER v IS NULL AS is_current,
           n_orders
    FROM grouped
    WINDOW v AS (PARTITION BY o_custkey ORDER BY version)
    """,
)
def transform_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build from change events.

    Treats each customer's order stream as a status feed and emits validity
    intervals: consecutive runs of one status collapse to a single version
    row with ``valid_from`` / ``valid_to`` (half-open, NULL = current).
    The lag→cumsum→lead pipeline is the standard islands idiom; all three
    windows and the run aggregation share the ``o_custkey`` exchange, so
    the whole history build is a single shuffle at any scale.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = (
        orders.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .withColumn(
            "is_change",
            F.when(
                F.col("prev_status").isNull()
                | (F.col("prev_status") != F.col("o_orderstatus")),
                1,
            ).otherwise(0),
        )
        .withColumn("version", F.sum("is_change").over(cum).cast("bigint"))
    )
    grouped = runs.groupBy(
        "o_custkey", "version", F.col("o_orderstatus").alias("status")
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    v = Window.partitionBy("o_custkey").orderBy("version")
    return grouped.select(
        "o_custkey",
        "version",
        "status",
        "valid_from",
        F.lead("valid_from").over(v).alias("valid_to"),
        F.lead("valid_from").over(v).isNull().alias("is_current"),
        "n_orders",
    )


@register(
    "agg_histogram_fixed",
    category="aggregate",
    oracle="""
    SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT) AS bin,
           round(least(floor(o_totalprice / 25000.0), 19) * 25000.0, 2)
               AS bin_lo,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: 20 bins of 25k over order totals.

    The closed-form bucket expression (``least(floor(x/w), n-1)``) keeps
    the histogram a pure map + 20-group aggregate — fully map-side
    combinable, no sort, no per-group state — which is the shape a
    histogram over 100 TB must have (contrast the exact-percentile
    ``transform_quantile_bin``, which pays a sort-based window).
    """
    orders = load_table(spark, sf_dir, "orders")
    bin_col = F.least(F.floor(F.col("o_totalprice") / 25000.0), F.lit(19))
    return (
        orders.select(
            bin_col.cast("bigint").alias("bin"),
            F.round(bin_col * 25000.0, 2).alias("bin_lo"),
            F.col("o_totalprice"),
        )
        .groupBy("bin", "bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "events_anomaly_zscore",
    category="events",
    oracle="""
    WITH stats AS (
        SELECT user_id,
               count(*)            AS n,
               sum(value)          AS s,
               sum(value * value)  AS ss
        FROM events
        GROUP BY user_id
    ), scored AS (
        SELECT e.event_id, e.user_id, e.event_type, e.value,
               (e.value - st.s / st.n)
                   / sqrt((st.ss - st.s * st.s / st.n) / (st.n - 1)) AS z
        FROM events e
        JOIN stats st ON e.user_id = st.user_id
        WHERE st.n > 1 AND st.ss - st.s * st.s / st.n > 0
    )
    SELECT event_id, user_id, event_type, value, round(z, 4) AS zscore
    FROM scored
    WHERE abs(z) > 2.0
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outlier flagging over event values.

    The simple statistical anomaly gate run over metric streams before
    alerting/training. The standard deviation is written in *closed form*
    from (n, sum, sum-of-squares) — not ``stddev_samp`` — so Spark and
    DuckDB execute the identical IEEE expression tree and the rounded
    z-scores hash-match exactly (builtin stddev implementations differ in
    summation order, which flips last-ulp bits). One shuffle for the
    per-user moments (map-side combinable), one equi-join back; both on
    ``user_id``. Zero-variance groups (all values equal) are excluded on
    both sides: 0/0 would yield NaN, and Spark's NaN ordering (greater
    than everything) diverges from SQL NULL/NaN semantics.
    """
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    z = (F.col("value") - F.col("s") / F.col("n")) / F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    positive_var = (
        F.col("ss") - F.col("s") * F.col("s") / F.col("n") > 0
    )
    return (
        events.join(stats.filter((F.col("n") > 1) & positive_var), "user_id")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.round("z", 4).alias("zscore"),
        )
    )


@register(
    "transform_quality_constraints",
    category="transform",
    oracle="""
    SELECT 'orders_custkey_fk' AS rule, count(*) AS n_violations
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orders_key_unique',
           count(*) - count(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'orders_price_positive',
           count(*) FILTER (WHERE o_totalprice <= 0
                               OR o_totalprice IS NULL) FROM orders
    UNION ALL
    SELECT 'orders_date_not_null',
           count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           count(*) FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_qty_range',
           count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
    FROM lineitem
    """,
)
def transform_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed data-quality constraint report (the Postgres parity gap).

    The reference gets NOT NULL / UNIQUE / FK enforcement for free from
    its Postgres tables (``hooks/dataset.py`` reflects them); a data lake
    must *check* instead of enforce. Each rule compiles to the cheapest
    distributed form: FK checks are anti-join counts (broadcast when the
    parent is dimension-sized, AQE decides), uniqueness is
    ``count - count(distinct)`` (partial-agg friendly), and all
    range/null scan-rules over one table fold into a single
    multi-metric aggregate unpivoted with ``stack`` — one scan of the
    audited table however many rules it carries. Output is the audit row a
    pipeline gate consumes — rule name, violation count; all six rules
    here are clean on the fixture by construction, so any nonzero count
    is itself the regression signal.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def one(rule: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(F.lit(rule).alias("rule"), F.col("n_violations"))

    fk_orders = one(
        "orders_custkey_fk",
        orders.join(
            customer.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_violations")),
    )
    uniq = one(
        "orders_key_unique",
        orders.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
                "n_violations"
            )
        ),
    )
    price = one(
        "orders_price_positive",
        orders.agg(
            F.count(
                F.when(
                    F.col("o_totalprice").isNull()
                    | (F.col("o_totalprice") <= 0),
                    1,
                )
            ).alias("n_violations")
        ),
    )
    dates = one(
        "orders_date_not_null",
        orders.agg(
            F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias(
                "n_violations"
            )
        ),
    )
    fk_lineitem = one(
        "lineitem_orderkey_fk",
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_violations")),
    )
    qty = one(
        "lineitem_qty_range",
        lineitem.agg(
            F.count(
                F.when(
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                )
            ).alias("n_violations")
        ),
    )
    return (
        fk_orders.unionByName(uniq)
        .unionByName(price)
        .unionByName(dates)
        .unionByName(fk_lineitem)
        .unionByName(qty)
    )


#: Nodes below this value are forest roots in the synthetic hierarchy
#: (parent(k) = k div 2 while k >= HIERARCHY_ROOT_BOUND).
HIERARCHY_ROOT_BOUND = 16


@register(
    "transform_hierarchy_flatten",
    scale_note="pointer-doubling is O(log depth) join rounds; the x8 fixture's deeper hierarchy genuinely adds a round — cost tracks log(depth), not rows^2",
    category="transform",
    oracle=f"""
    WITH RECURSIVE nodes AS (
        SELECT DISTINCT o_orderkey AS node FROM orders
    ), walk AS (
        SELECT node, node AS anc, 0 AS depth FROM nodes
        UNION ALL
        SELECT walk.node, walk.anc // 2, walk.depth + 1
        FROM walk WHERE walk.anc >= {HIERARCHY_ROOT_BOUND}
    )
    SELECT node,
           anc               AS root,
           CAST(depth AS BIGINT) AS depth
    FROM walk
    WHERE anc < {HIERARCHY_ROOT_BOUND}
    """,
)
def transform_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening by pointer doubling: root + depth per node.

    The BOM-explosion / org-chart / category-tree primitive, in its
    O(log depth) form (Spark 4 also ships WITH RECURSIVE — see
    ``transform_recursive_cte_hierarchy`` for the declarative
    O(depth) twin). The naive loop walks one parent level per round
    (O(depth) joins); this implementation **doubles the pointer** each
    round — join every node's known ancestor onto that ancestor's known
    ancestor, accumulating depths — so a depth-2^r chain resolves in r
    rounds (here: ~17 levels in 5 rounds). Each round is one equi-join on
    the ancestor key plus a ``localCheckpoint`` to cut lineage, the same
    discipline as ``connected_components``; this is THE technique for
    100 TB hierarchies whose depth makes per-level walking the driver
    bottleneck. The synthetic forest (parent = k div 2 above a root
    bound) lets the DuckDB recursive CTE replay the exact walk, value-
    checking every (root, depth) pair.
    """
    nodes = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("node"))
        .distinct()
    )
    return resolve_hierarchy(nodes, HIERARCHY_ROOT_BOUND)


def resolve_hierarchy(
    nodes: DataFrame, bound: int, max_rounds: int | None = None
) -> DataFrame:
    """Resolve (root, depth) for every node of the div-2 forest by
    pointer doubling with arithmetic fast-forward (see
    :func:`transform_hierarchy_flatten` for the full story). ``nodes``
    needs one ``node`` long column; works for dense AND sparse node sets
    (absent ancestors are walked in closed form at doubling pace).

    ``max_rounds`` is the regression leash: pointer doubling must finish
    a depth-D forest in ceil(log2(D)) + O(1) rounds; pass the bound and
    the function raises ``RuntimeError`` if a change ever degrades the
    doubling back to per-level walking (the x8-probe incident this
    guards against)."""
    # (node, anc, depth): anc = farthest known ancestor, depth = #edges to
    # it. Roots start resolved (anc = self).
    labels = nodes.select(
        "node",
        F.when(F.col("node") >= bound, (F.col("node") / 2).cast("long"))
        .otherwise(F.col("node"))
        .alias("anc"),
        F.when(F.col("node") >= bound, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("depth"),
    ).localCheckpoint(eager=True)
    round_idx = 0
    prev_round = None
    while True:
        round_idx += 1
        hop = labels.select(
            F.col("node").alias("__n"),
            F.col("anc").alias("__anc"),
            F.col("depth").alias("__d"),
        )
        # A missing ancestor key (sparse hierarchies: the parent id is
        # derivable but carries no row of its own) falls back to an
        # ARITHMETIC fast-forward that doubles like the join does: round
        # r jumps up to 2^r parent steps in closed form (steps-to-root
        # from the exact integer bit length, never past the root), so
        # all-miss chains still resolve in O(log depth) rounds — the
        # scale probe caught the 1-step fallback degrading to per-level
        # walking (x8 ratio 11.7) when replica key offsets pushed every
        # ancestor outside the node set.
        jump_cap = F.lit(1 << round_idx).cast("long")
        steps_to_root = F.greatest(
            F.lit(0).cast("long"),
            (F.length(F.bin(F.col("anc"))) - 4).cast("long"),
        )
        jump = F.least(jump_cap, steps_to_root)
        arith_anc = F.expr("shiftright(anc, CAST(__jump AS INT))")
        new_anc = F.coalesce("__anc", arith_anc)
        doubled = query_cache(
            labels.join(hop, labels.anc == hop.__n, "left")
            .withColumn("__jump", jump)
            .select(
                "node",
                new_anc.alias("anc"),
                (F.col("depth") + F.coalesce("__d", F.col("__jump")))
                .cast("long")
                .alias("depth"),
                # The previous ancestor is IN SCOPE here (labels.anc),
                # so the did-anything-move flag rides the round's own
                # join — the old per-round doubled-vs-labels
                # convergence join re-keyed 150k rows just to recover
                # a value the join already held.
                (new_anc != labels.anc).alias("__moved"),
            )
        )
        # ONE job per round: the full-scan aggregate both populates the
        # round's cache (every partition computed — limit(1) would
        # leave the cache partial and let lineage regrow) and answers
        # convergence. The old shape paid two jobs per round
        # (checkpoint materialization + a doubled-vs-labels join).
        moved = doubled.agg(
            F.sum(F.col("__moved").cast("int"))
        ).collect()[0][0]
        if prev_round is not None:
            prev_round.unpersist()
        prev_round = doubled
        labels = doubled.select("node", "anc", "depth")
        if not moved:
            break
        if max_rounds is not None and round_idx >= max_rounds:
            raise RuntimeError(
                f"resolve_hierarchy did not converge in {max_rounds} "
                "rounds — pointer doubling has regressed toward "
                "per-level walking"
            )
    return labels.select("node", F.col("anc").alias("root"), "depth")


@register(
    "agg_correlation",
    category="aggregate",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               count(*)                          AS n,
               sum(l_quantity)                   AS sx,
               sum(l_extendedprice)              AS sy,
               sum(l_quantity * l_quantity)      AS sxx,
               sum(l_extendedprice * l_extendedprice) AS syy,
               sum(l_quantity * l_extendedprice) AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_items,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 4) AS qty_price_corr
    FROM m
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation from closed-form co-moments.

    The feature-profiling pass (drift detection, redundant-feature
    pruning) written scale-correctly: one map-side-combinable aggregate
    of six sums, correlation derived afterwards — never ``F.corr``/
    ``corr()``, whose streaming co-moment updates differ between engines
    in summation order at the ulp level. The identical closed-form
    expression tree on both sides keeps the 4dp round stable, the same
    construction as ``events_anomaly_zscore``.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_items"),
        F.round(corr, 4).alias("qty_price_corr"),
    )


@register(
    "events_interarrival_stats",
    category="events",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               date_diff('microseconds',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(count(gap_us) AS BIGINT)  AS n_gaps,
           CAST(min(gap_us) AS BIGINT)    AS min_gap_us,
           CAST(max(gap_us) AS BIGINT)    AS max_gap_us,
           CAST(sum(gap_us) AS BIGINT)    AS total_gap_us
    FROM gaps
    GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap statistics — pure integer microseconds.

    The traffic-shape profile behind rate limiting, bot detection, and
    session-gap tuning (the 30-minute sessionization threshold comes from
    exactly this distribution). The lag rides one ``user_id`` window and
    the aggregate reuses the same exchange; gaps are exact microsecond
    longs end-to-end — no float in the whole query, so the hash needs no
    rounding at all.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestampdiff on the NTZ values directly — never through a
    # session-timezone cast (the lesson pinned by
    # test_session_independence: LTZ round trips shift wall clocks).
    gaps = events.withColumn("__prev", F.lag("ts").over(w)).withColumn(
        "gap_us", F.expr("timestampdiff(MICROSECOND, __prev, ts)")
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.sum("gap_us").cast("bigint").alias("total_gap_us"),
    )


#: KMV sketch size: estimate distinct counts from the K smallest hashes.
KMV_K = 32


@register(
    "agg_kmv_distinct",
    category="aggregate",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
        FROM events
    ), ranked AS (
        SELECT event_type, hx,
               row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
               count(*)    OVER (PARTITION BY event_type)              AS nd
        FROM h
    ), kth AS (
        SELECT event_type, nd,
               list_sum(list_transform(range(1, 14),
                   i -> (strpos('0123456789abcdef', substr(hx, CAST(i AS INT), 1)) - 1)
                        * power(16.0, -i))) AS frac
        FROM ranked
        WHERE rn = least({KMV_K}, nd)
    )
    SELECT event_type,
           nd AS n_distinct_exact,
           round(CASE WHEN nd < {KMV_K} THEN CAST(nd AS DOUBLE)
                      ELSE ({KMV_K} - 1) / frac END, 4) AS kmv_estimate,
           round(abs(CASE WHEN nd < {KMV_K} THEN CAST(nd AS DOUBLE)
                          ELSE ({KMV_K} - 1) / frac END - nd) * 1.0 / nd, 4)
               AS rel_error
    FROM kth
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per event type.

    The mergeable-sketch family (KMV / theta): hash every key, keep the K
    smallest hash values, estimate distinct = (K-1)/frac(K-th smallest).
    Spark ships ``approx_count_distinct`` (HLL++) built in — this query
    exists because KMV sketches also support set-operation estimates
    (intersection/union of audiences) that HLL cannot, and because md5 has
    a DuckDB twin so the WHOLE estimate is hash-checkable, not just
    rows-only. Hex strings of equal length order identically to their
    numeric values, so the K-th smallest is engine-agnostic; the fraction
    is built from the first 13 hex digits (52 bits — exactly a double
    mantissa, so the digit-weighted sum is exact and associativity-proof
    on both engines).

    Scale shape: the distinct pre-aggregation on (event_type, 16-byte
    digest) is map-side combinable; after it, at most `nd` rows per group
    enter one window sort. A production aggregator would carry O(K) state
    per group (a bounded min-heap) through a single map-side-combine pass
    — the relational form here trades that for a second exchange to stay
    oracle-checkable.
    """
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("hx")
    ).distinct()
    w = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hx",
        F.row_number().over(w.orderBy("hx")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("nd"),
    )
    kth = ranked.where(F.col("rn") == F.least(F.lit(KMV_K), F.col("nd")))
    frac = (
        F.conv(F.substring("hx", 1, 13), 16, 10).cast("double")
        / F.lit(float(2**52))
    )
    est = F.when(
        F.col("nd") < KMV_K, F.col("nd").cast("double")
    ).otherwise(F.lit(float(KMV_K - 1)) / frac)
    return kth.select(
        "event_type",
        F.col("nd").cast("long").alias("n_distinct_exact"),
        F.round(est, 4).alias("kmv_estimate"),
        F.round(F.abs(est - F.col("nd")) * F.lit(1.0) / F.col("nd"), 4).alias(
            "rel_error"
        ),
    )


#: CDC-apply parameters: entity key space and the tombstone rule that
#: derives a deterministic changelog from ``orders``.
CDC_KEYSPACE = 997
CDC_DELETE_MOD = 7


@register(
    "transform_cdc_apply",
    category="transform",
    oracle=f"""
    WITH log AS (
        SELECT o_orderkey % {CDC_KEYSPACE} AS key,
               o_orderkey                  AS seq,
               CASE WHEN o_orderkey % {CDC_DELETE_MOD} = 0
                    THEN 'D' ELSE 'U' END  AS op,
               o_orderstatus, o_totalprice
        FROM orders
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
               count(*)    OVER (PARTITION BY key)                    AS n_ops
        FROM log
    )
    SELECT key,
           seq            AS last_seq,
           o_orderstatus  AS status,
           o_totalprice   AS total_price,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM ranked
    WHERE rn = 1 AND op = 'U'
    """,
)
def transform_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction with tombstones (CDC apply / Kafka compaction).

    The snapshot-from-changelog operation every CDC pipeline ends in:
    a stream of keyed Upsert/Delete records is reduced to current state —
    highest sequence number wins per key, and a winning Delete removes
    the key entirely. (``sink_merge_upsert`` merges ONE batch into a
    table; this collapses an ENTIRE ordered history, tombstones
    included.) The changelog here is derived deterministically from
    ``orders`` — key = orderkey mod {CDC_KEYSPACE}, every {CDC_DELETE_MOD}th
    record a tombstone — so the oracle can rebuild it.

    Scale shape: one shuffle on the entity key; latest-wins is a
    row_number window over the same exchange (no self-join against a
    max-seq aggregate, which would shuffle twice and rescan). The op
    count rides the identical window partition for free. At 100 TB this
    is the standard log-compaction plan: linear scan, single hash
    exchange, O(1) window state per key.
    """
    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        (F.col("o_orderkey") % CDC_KEYSPACE).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % CDC_DELETE_MOD == 0, "D")
        .otherwise("U")
        .alias("op"),
        "o_orderstatus",
        "o_totalprice",
    )
    w = Window.partitionBy("key")
    ranked = log.select(
        "*",
        F.row_number().over(w.orderBy(F.col("seq").desc())).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_ops"),
    )
    return ranked.where((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "key",
        F.col("seq").alias("last_seq"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("n_ops").cast("long").alias("n_ops"),
    )


#: Z-order bucket width: the 16-bit Morton space split into 64 buckets.
ZORDER_BUCKET = 1024


@register(
    "layout_zorder_bucket",
    category="transform",
    oracle=f"""
    WITH dims AS (
        SELECT user_id % 256                               AS x,
               CAST(floor(abs(value) * 10.0) AS BIGINT) % 256 AS y
        FROM events
    ), z AS (
        SELECT x, y, (((x) & 1) * 1 + ((y) & 1) * 2 + ((x) & 2) * 2 + ((y) & 2) * 4 + ((x) & 4) * 4 + ((y) & 4) * 8 + ((x) & 8) * 8 + ((y) & 8) * 16 + ((x) & 16) * 16 + ((y) & 16) * 32 + ((x) & 32) * 32 + ((y) & 32) * 64 + ((x) & 64) * 64 + ((y) & 64) * 128 + ((x) & 128) * 128 + ((y) & 128) * 256) AS zval
        FROM dims
    )
    SELECT zval // {ZORDER_BUCKET} AS zbucket,
           count(*)          AS n_rows,
           max(x) - min(x)   AS x_span,
           max(y) - min(y)   AS y_span
    FROM z
    GROUP BY zbucket
    """,
)
def layout_zorder_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key and its locality profile.

    The OPTIMIZE ZORDER primitive on plain Spark: two bounded dimensions
    are bit-interleaved into one sort key (``layout.zorder_key``), and
    this query reports, per key range ("bucket" = what would become one
    file under a range-partitioned write), how tight BOTH dimensions'
    min/max spans stay — exactly the row-group statistics parquet would
    store and a 2-D range scan would prune on. With a 1-D sort, one
    dimension's span per file is ~the full domain; under Z-order both
    spans are O(domain / sqrt(n_files)) — the measurable locality win.

    Scale shape: the key is pure integer bit arithmetic in whole-stage
    codegen (no UDF, no join); the profile is one map-side-combinable
    aggregation on the bucket id. The production write is
    ``df.repartitionByRange(n, zorder_key(...)).write.parquet(...)`` —
    a single range exchange, same cost as any global sort-write.
    """
    from data_preparation_plugin_spark.layout import zorder_key

    events = load_table(spark, sf_dir, "events")
    dims = events.select(
        (F.col("user_id") % 256).alias("x"),
        (F.floor(F.abs("value") * 10.0).cast("bigint") % 256).alias("y"),
    )
    z = dims.select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("zval")
    )
    return (
        z.groupBy(
            F.floor(F.col("zval") / ZORDER_BUCKET).cast("bigint").alias(
                "zbucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
    )


def _kmv_frac_sql(hx_expr: str) -> str:
    """DuckDB: fraction of the hash space below ``hx`` (13 hex digits =
    52 bits, exactly a double mantissa — the digit sum is exact)."""
    return (
        "list_sum(list_transform(range(1, 14), "
        f"i -> (strpos('0123456789abcdef', substr({hx_expr}, CAST(i AS INT), 1)) - 1)"
        " * power(16.0, -i)))"
    )


@register(
    "agg_kmv_union",
    category="aggregate",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
        FROM events
    ), sketches AS (
        SELECT event_type, hx
        FROM (SELECT event_type, hx,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY hx) AS rn
              FROM h)
        WHERE rn <= {KMV_K}
    ), pool AS (
        SELECT DISTINCT hx FROM sketches
    ), merged AS (
        SELECT hx, row_number() OVER (ORDER BY hx) AS rn FROM pool
    ), kth AS (
        SELECT {_kmv_frac_sql('hx')} AS frac FROM merged WHERE rn = {KMV_K}
    ), exact AS (
        SELECT count(DISTINCT user_id)    AS n_exact,
               count(DISTINCT event_type) AS n_sketches
        FROM events
    )
    SELECT CAST(exact.n_sketches AS BIGINT) AS n_sketches,
           CAST(exact.n_exact AS BIGINT)    AS union_exact,
           round(({KMV_K} - 1) / kth.frac, 4) AS union_estimate,
           round(abs(({KMV_K} - 1) / kth.frac - exact.n_exact) * 1.0
                 / exact.n_exact, 4)          AS rel_error
    FROM exact CROSS JOIN kth
    """,
)
def agg_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merging KMV sketches: union distinct-count without re-scanning.

    The property that justifies KMV over HLL in ``agg_kmv_distinct``:
    per-group sketches (K smallest hashes each) merge by simply taking
    the K smallest of their union — the merged sketch is exactly the
    sketch of the combined key set, so a warehouse can keep one tiny
    sketch per partition/day and answer "distinct users across any
    subset" without touching raw data. Compared here against the exact
    union count, which is the verification baseline only.

    Scale shape: the sketch build is the ``agg_kmv_distinct`` plan; the
    merge operates on at most K x n_groups rows (bounded, tiny) through
    one global top-K window. The exact count exists only to measure
    estimator error — production drops it, leaving nothing that scans
    raw keys twice. Assumes n_groups x K fits one partition (always, for
    bounded group counts); a million-group merge would tree-reduce the
    same min-K operation.
    """
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("hx")
    ).distinct()
    sk_win = Window.partitionBy("event_type").orderBy("hx")
    sketches = (
        h.withColumn("rn", F.row_number().over(sk_win))
        .where(F.col("rn") <= KMV_K)
        .select("hx")
    )
    pool = sketches.distinct()
    merged = pool.withColumn(
        "rn", F.row_number().over(Window.orderBy("hx"))
    )
    frac = (
        F.conv(F.substring("hx", 1, 13), 16, 10).cast("double")
        / F.lit(float(2**52))
    )
    kth = merged.where(F.col("rn") == KMV_K).select(frac.alias("frac"))
    exact = events.agg(
        F.countDistinct("event_type").cast("long").alias("n_sketches"),
        F.countDistinct("user_id").cast("long").alias("union_exact"),
    )
    est = F.lit(float(KMV_K - 1)) / F.col("frac")
    return exact.crossJoin(kth).select(
        "n_sketches",
        "union_exact",
        F.round(est, 4).alias("union_estimate"),
        F.round(
            F.abs(est - F.col("union_exact")) * F.lit(1.0)
            / F.col("union_exact"),
            4,
        ).alias("rel_error"),
    )


#: Count-min sketch dimensions for `agg_cms_heavy_hitters`: depth-many
#: independent hash rows, width buckets each. Width 64 on a 150-key space
#: guarantees collisions, so the estimate-vs-exact gap is exercised.
CMS_DEPTH_PARAMS = ((1000003, 12345), (999983, 54321), (1000033, 777))
CMS_WIDTH = 64
CMS_PRIME = 2147483647
CMS_TOP_K = 10


@register(
    "agg_cms_heavy_hitters",
    category="aggregate",
    oracle=f"""
    WITH hashes AS (
        SELECT user_id, d.i,
               ((d.a * user_id + d.b) % {CMS_PRIME}) % {CMS_WIDTH} AS bucket
        FROM events
        CROSS JOIN (VALUES {", ".join(
            f"({i}, {a}, {b})"
            for i, (a, b) in enumerate(CMS_DEPTH_PARAMS)
        )}) AS d(i, a, b)
    ), counters AS (
        SELECT i, bucket, count(*) AS c
        FROM hashes GROUP BY i, bucket
    ), keys AS (
        SELECT DISTINCT user_id, i,
               ((d.a * user_id + d.b) % {CMS_PRIME}) % {CMS_WIDTH} AS bucket
        FROM events
        CROSS JOIN (VALUES {", ".join(
            f"({i}, {a}, {b})"
            for i, (a, b) in enumerate(CMS_DEPTH_PARAMS)
        )}) AS d(i, a, b)
    ), est AS (
        SELECT k.user_id, min(c.c) AS cms_estimate
        FROM keys k JOIN counters c ON k.i = c.i AND k.bucket = c.bucket
        GROUP BY k.user_id
    ), exact AS (
        SELECT user_id, count(*) AS exact_count
        FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           CAST(x.exact_count  AS BIGINT) AS exact_count,
           CAST(e.cms_estimate - x.exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x ON e.user_id = x.user_id
    ORDER BY e.cms_estimate DESC, e.user_id
    LIMIT {CMS_TOP_K}
    """,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters, with the exact counts alongside.

    The mergeable frequency sketch (Cormode-Muthukrishnan): ``depth``
    pairwise-independent hash rows of ``width`` counters; a key's
    frequency estimate is the minimum of its ``depth`` counters, biased
    only upward by collisions. Hash functions are plain modular
    arithmetic ``((a*u + b) mod p) mod w`` so both engines compute them
    bit-identically and the WHOLE sketch — counters, estimates, and the
    overcount column that witnesses the one-sided error — is
    hash-checked, not just rows-only. Width is deliberately smaller than
    the key cardinality so collisions actually occur in the fixture.

    Scale shape: the counter build is a map-side-combinable aggregate
    over exactly ``depth x width`` cells (192 rows here) regardless of
    input size — the defining sketch property. The candidate probe joins
    distinct keys against that tiny counter table (broadcast). At 100 TB
    you would not materialize all distinct keys: the standard deployment
    keeps a bounded top-k heap beside the sketch per partition and merges
    heaps; the relational probe here exists to make the estimate itself
    oracle-checkable.
    """
    events = load_table(spark, sf_dir, "events")
    dims = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(CMS_DEPTH_PARAMS)],
        "i INT, a LONG, b LONG",
    )
    bucket = ((F.col("a") * F.col("user_id") + F.col("b")) % CMS_PRIME) % CMS_WIDTH
    hashes = events.select("user_id").crossJoin(F.broadcast(dims)).select(
        "user_id", "i", bucket.alias("bucket")
    )
    counters = hashes.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    keys = (
        events.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(dims))
        .select("user_id", "i", bucket.alias("bucket"))
    )
    est = (
        keys.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_estimate"))
    )
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .select(
            "user_id",
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            F.col("exact_count").cast("long").alias("exact_count"),
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.desc("cms_estimate"), "user_id")
        .limit(CMS_TOP_K)
    )


#: Column inventory for `profile_table_columns`: (name, kind) where kind
#: drives which metric slots are populated. Mirrors the reference's
#: ``read_dtype``/``reflect`` use case — but computed from the data, not
#: from catalog metadata.
PROFILE_COLUMNS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


@register(
    "profile_table_columns",
    category="profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num,
           CAST(max(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
           CAST(NULL AS DOUBLE) AS avg_len
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           NULL, NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), NULL, NULL,
           min(o_orderstatus), max(o_orderstatus),
           round(avg(len(o_orderstatus)), 4)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           round(min(o_totalprice), 6), round(max(o_totalprice), 6),
           NULL, NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(min(o_orderdate) AS DATE)) AS DOUBLE),
           CAST(date_diff('day', DATE '1970-01-01',
                          CAST(max(o_orderdate) AS DATE)) AS DOUBLE),
           NULL, NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), NULL, NULL,
           min(o_orderpriority), max(o_orderpriority),
           round(avg(len(o_orderpriority)), 4)
    FROM orders
    """,
)
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profile of ``orders`` — the lake-side ``reflect()``.

    The reference answers "what does this table look like" from Postgres
    catalog metadata (``PostgresDataset.reflect``/``read_dtype``); a lake
    table has no authoritative catalog stats, so the profiler computes
    them: per column, row/null/distinct counts, numeric or lexicographic
    extremes (timestamps as engine-neutral epoch days), and mean string
    length. This is the deequ/Great-Expectations "analyzer" core, and the
    stats feed the same places Postgres's would: join-size estimation,
    dictionary-encoding decisions, anomaly alerts on nulls/cardinality
    drift.

    Scale shape: one Expand scan + one string-extremes scan. Catalyst
    plans the multi-count-distinct via a single Expand (x6 rows
    map-side, all partial-aggregated) rather than six scans — and that
    aggregate must stay ALL-NUMERIC: min/max over StringType have
    immutable aggregation buffers, which forces the whole operator
    (including the count-distinct dedup of the expanded corpus) into
    Sort+SortAggregate. The string extremes therefore ride a second
    column-pruned scan whose keyless aggregate needs no sort, and the
    two 1-row results broadcast-join (measured 3.79s -> 1.99s at sf0.1,
    r13). Everything after is a 1-row pivot to long form (inline of a
    literal struct array). At 100 TB you'd swap exact count-distinct for
    ``approx_count_distinct`` per column (the Expand disappears entirely);
    exact is kept here because the oracle checks values.
    """
    orders = load_table(spark, sf_dir, "orders")
    # The string columns' min/max live in a SEPARATE keyless aggregate:
    # an Aggregate carrying ANY immutable-buffer function (min/max over
    # StringType) falls back to Sort+SortAggregate for the WHOLE
    # operator — including the count-distinct dedup stage, which then
    # full-sorts the n_cols-times-expanded corpus twice (measured 3.8s
    # -> 1.3s at sf0.1 when split out, r13). Keeping the Expand
    # aggregate all-numeric keeps it HashAggregate end to end; the
    # string pass is a second column-pruned scan whose keyless
    # SortAggregate needs no Sort at all.
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    str_aggs = []
    for c, kind in PROFILE_COLUMNS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        if kind == "num":
            aggs.append(F.round(F.min(c), 6).cast("double").alias(f"mn_{c}"))
            aggs.append(F.round(F.max(c), 6).cast("double").alias(f"mx_{c}"))
        elif kind == "ts":
            epoch = F.lit("1970-01-01").cast("date")
            aggs.append(
                F.datediff(F.min(c).cast("date"), epoch)
                .cast("double")
                .alias(f"mn_{c}")
            )
            aggs.append(
                F.datediff(F.max(c).cast("date"), epoch)
                .cast("double")
                .alias(f"mx_{c}")
            )
        else:
            str_aggs.append(F.min(c).alias(f"ms_{c}"))
            str_aggs.append(F.max(c).alias(f"xs_{c}"))
            aggs.append(
                F.round(F.avg(F.length(c)), 4).alias(f"al_{c}")
            )
    m = orders.agg(*aggs).crossJoin(F.broadcast(orders.agg(*str_aggs)))
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for c, kind in PROFILE_COLUMNS:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}"))
                .cast("long")
                .alias("n_nulls"),
                F.col(f"nd_{c}").cast("long").alias("n_distinct"),
                (F.col(f"mn_{c}") if kind != "str" else null_d).alias(
                    "min_num"
                ),
                (F.col(f"mx_{c}") if kind != "str" else null_d).alias(
                    "max_num"
                ),
                (F.col(f"ms_{c}") if kind == "str" else null_s).alias(
                    "min_str"
                ),
                (F.col(f"xs_{c}") if kind == "str" else null_s).alias(
                    "max_str"
                ),
                (F.col(f"al_{c}") if kind == "str" else null_d).alias(
                    "avg_len"
                ),
            )
        )
    return m.select(F.inline(F.array(*rows)))


#: MAD outlier rule: |value - median| > MAD_K * (MAD_SIGMA * mad),
#: MAD_SIGMA being the normal-consistency constant 1.4826.
MAD_K = 3.0
MAD_SIGMA = 1.4826


@register(
    "events_mad_outliers",
    category="events",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ), dev AS (
        SELECT e.event_type, e.value, m.med,
               abs(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ), mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n,
           round(max(d.med), 6) AS median_value,
           round(max(m.mad), 6) AS mad,
           count(*) FILTER (WHERE d.adev > {MAD_K} * ({MAD_SIGMA} * m.mad))
               AS n_outliers
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type.

    The robust sibling of ``events_anomaly_zscore``: mean/stddev break
    down when the contamination you're hunting inflates them (one whale
    event drags σ up and hides the rest); median and MAD have a 50%
    breakdown point, so the 3-MAD fence holds under heavy tails. Same
    two-pass shape as the z-score — per-group robust moments, join back,
    flag — with exact interpolated medians (``F.percentile``) so the
    oracle checks values, and the scale swap-in is ``approx_percentile``
    (t-digest, mergeable, fixed memory) exactly as in
    ``agg_percentiles``.

    Scale shape: two aggregates and one equi-join, all on
    ``event_type`` — a bounded-cardinality key, so the median sorts
    shard per group and the join back broadcasts the (types x 1 double)
    tables. Nothing global, nothing quadratic.
    """
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.count_if(
                F.col("adev") > MAD_K * (MAD_SIGMA * F.col("mad"))
            ).alias("n_outliers"),
        )
    )


#: EWMA decay and window depth for `events_ewma_smooth`: weights a^0..a^7
#: over the current + 7 preceding events of the user.
EWMA_DECAY = 0.5
EWMA_DEPTH = 8


@register(
    "events_ewma_smooth",
    category="events",
    oracle=f"""
    WITH lagged AS (
        SELECT event_id, user_id, ts, value,
               {", ".join(
                   f"lag(value, {i}) OVER w AS l{i}" for i in range(1, 8)
               )}
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           (value
            {" ".join(
                f"+ coalesce(l{i}, 0) * {EWMA_DECAY ** i!r}"
                for i in range(1, 8)
            )})
           / (1.0
            {" ".join(
                f"+ CASE WHEN l{i} IS NULL THEN 0 ELSE {EWMA_DECAY ** i!r} END"
                for i in range(1, 8)
            )}) AS ewma
    FROM lagged
    """,
)
def events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's value stream.

    The time-series smoother behind rate dashboards and drift detectors,
    in its bounded-depth form: weights a^0..a^7 over the current and
    seven preceding events (a truncated EWMA carries >99% of the mass at
    a=0.5, and unlike the recursive form it needs no sequential state).
    Early events renormalize over the weights actually present, so the
    smoother is well-defined from the first event. Both engines build
    the identical expression tree over the identical lag values — the
    output doubles are bit-equal, no rounding needed.

    Scale shape: one ``user_id`` exchange; all seven lags share the same
    window sort, and the arithmetic is whole-stage-codegen'd — this is
    the cheapest possible per-key sequential operator, and the shape a
    recursive EWMA compiles to once you truncate it.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", i).over(w).alias(f"l{i}") for i in range(1, EWMA_DEPTH)]
    lagged = events.select("event_id", "user_id", "value", *lags)
    num = F.col("value")
    den = F.lit(1.0)
    for i in range(1, EWMA_DEPTH):
        wgt = EWMA_DECAY ** i
        num = num + F.coalesce(F.col(f"l{i}"), F.lit(0.0)) * F.lit(wgt)
        den = den + F.when(F.col(f"l{i}").isNull(), 0.0).otherwise(wgt)
    return lagged.select(
        "event_id", "user_id", (num / den).alias("ewma")
    )


#: Base/delta split date for `transform_incremental_agg_merge`: rows
#: shipped before this date form yesterday's materialized partials; rows
#: on/after it are the incoming delta batch.
INCR_CUTOFF = "1998-07-01"


@register(
    "transform_incremental_agg_merge",
    category="transform",
    oracle=f"""
    WITH base AS (
        SELECT (year(l_shipdate) * 100 + month(l_shipdate)) AS ship_month,
               l_returnflag,
               CAST(sum(l_quantity) AS BIGINT)           AS p_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT)                           AS p_cents,
               count(*)                                  AS p_rows,
               min(l_discount)                           AS p_min_disc,
               max(l_discount)                           AS p_max_disc
        FROM lineitem WHERE l_shipdate < DATE '{INCR_CUTOFF}'
        GROUP BY 1, 2
    ), delta AS (
        SELECT (year(l_shipdate) * 100 + month(l_shipdate)) AS ship_month,
               l_returnflag,
               CAST(sum(l_quantity) AS BIGINT)           AS p_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT)                           AS p_cents,
               count(*)                                  AS p_rows,
               min(l_discount)                           AS p_min_disc,
               max(l_discount)                           AS p_max_disc
        FROM lineitem WHERE l_shipdate >= DATE '{INCR_CUTOFF}'
        GROUP BY 1, 2
    ), merged AS (
        SELECT ship_month, l_returnflag,
               CAST(sum(p_qty) AS BIGINT)   AS sum_qty,
               CAST(sum(p_cents) AS BIGINT) AS sum_cents,
               CAST(sum(p_rows) AS BIGINT)  AS n_rows,
               min(p_min_disc)              AS min_disc,
               max(p_max_disc)              AS max_disc
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        GROUP BY ship_month, l_returnflag
    )
    SELECT ship_month, l_returnflag, sum_qty, sum_cents,
           CAST(n_rows AS BIGINT) AS n_rows,
           (sum_cents * 100) // n_rows AS avg_price_e4,
           min_disc, max_disc
    FROM merged
    """,
)
def transform_incremental_agg_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental aggregate maintenance: merge partial states, not rows.

    The pattern behind every incremental materialized view and every
    streaming-state checkpoint: yesterday's rollup is stored as PARTIAL
    states (sum/count/min/max per key), today's delta batch aggregates
    to the same shape, and the refreshed view is a merge of states —
    sums add, counts add, mins take min, maxes take max, and averages
    derive from (sum, count) at read time. The base relation is never
    rescanned; the refresh cost is O(delta + keys). Measures use
    integer-exact accumulators (unit quantities, price cents), so the
    merged result is bit-identical to a from-scratch rollup in ANY
    engine or merge order — which is exactly what the oracle (same
    two-phase computation; pytest's property check recomputes it
    single-pass) certifies.

    Scale shape: two filtered scans each ending in a map-side-combinable
    hash aggregate on (month, flag) — bounded keys — then a key-only
    merge aggregate over partial rows (hundreds, not billions). At
    100 TB the base partials live in a table partitioned by refresh
    epoch and the daily job touches only the delta partition: this
    query IS that job's plan, with the cutoff standing in for the
    partition boundary.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def partials(rows: DataFrame) -> DataFrame:
        return rows.groupBy(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias(
                "ship_month"
            ),
            "l_returnflag",
        ).agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("p_qty"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("p_cents"),
            F.count(F.lit(1)).alias("p_rows"),
            F.min("l_discount").alias("p_min_disc"),
            F.max("l_discount").alias("p_max_disc"),
        )

    cutoff = F.lit(INCR_CUTOFF).cast("date")
    base = partials(li.where(F.col("l_shipdate") < cutoff))
    delta = partials(li.where(F.col("l_shipdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("ship_month", "l_returnflag")
        .agg(
            F.sum("p_qty").alias("sum_qty"),
            F.sum("p_cents").alias("sum_cents"),
            F.sum("p_rows").alias("n_rows"),
            F.min("p_min_disc").alias("min_disc"),
            F.max("p_max_disc").alias("max_disc"),
        )
    )
    return merged.select(
        "ship_month",
        "l_returnflag",
        "sum_qty",
        "sum_cents",
        F.col("n_rows").cast("long").alias("n_rows"),
        # Integer floor division: the derived average in 1e-4-dollar
        # units, exact in any engine (a round() here hit a half-way FP
        # tie that Spark and DuckDB break differently).
        F.expr("(sum_cents * 100) div n_rows").alias("avg_price_e4"),
        "min_disc",
        "max_disc",
    )


#: How many heavy keys `profile_join_skew` reports.
SKEW_TOP_N = 20


@register(
    "profile_join_skew",
    category="profile",
    oracle=f"""
    WITH counts AS (
        SELECT o_custkey, count(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT count(*) AS n_total, count(DISTINCT o_custkey) AS n_keys
        FROM orders
    )
    SELECT o_custkey, n_orders,
           (n_orders * 10000) // tot.n_total AS share_bp,
           (n_orders * tot.n_keys * 100) // tot.n_total AS x_avg_pct,
           rnk
    FROM (SELECT *,
                 row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS rnk
          FROM counts) c
    CROSS JOIN tot
    WHERE rnk <= {SKEW_TOP_N}
    """,
)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile: the heavy hitters a planner must know about.

    The diagnostic run before every big join: which values of the join
    key carry disproportionate row counts? Reports the top
    ``SKEW_TOP_N`` keys of ``orders.o_custkey`` with exact counts,
    corpus share in basis points, and a times-average percentage
    (n_orders / (total/n_keys)) — the number that tells you whether
    AQE's skew-join split or an explicit salt (``join_salted_skew``)
    is warranted. Integer floor arithmetic keeps every derived column
    engine-exact.

    Scale shape: one map-side-combinable count aggregate, then the
    top-N via ``orderBy().limit()`` — Spark plans that as
    TakeOrderedAndProject (per-partition heaps merged at the driver),
    NEVER a global sort of the key-count table. The two totals ride a
    broadcast 1-row cross join, and rank is a window over the N
    surviving rows only.
    """
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    tot = orders.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("o_custkey").alias("n_keys"),
    )
    top = counts.orderBy(F.desc("n_orders"), "o_custkey").limit(SKEW_TOP_N)
    rnk_w = Window.orderBy(F.desc("n_orders"), "o_custkey")
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(rnk_w))
        .select(
            "o_custkey",
            "n_orders",
            F.expr("(n_orders * 10000) div n_total").alias("share_bp"),
            F.expr("(n_orders * n_keys * 100) div n_total").alias(
                "x_avg_pct"
            ),
            "rnk",
        )
    )


_KMV_FRAC_SQL = (
    "list_sum(list_transform(range(1, 14), "
    "i -> (strpos('0123456789abcdef', substr({hx}, CAST(i AS INT), 1)) - 1)"
    " * power(16.0, -i)))"
)


@register(
    "agg_kmv_intersection",
    category="aggregate",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, user_id,
               md5(CAST(user_id AS VARCHAR)) AS hx
        FROM events
    ), ranked AS (
        SELECT event_type, user_id, hx,
               row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
               count(*)    OVER (PARTITION BY event_type)              AS nd
        FROM h
    ), sketch AS (
        SELECT event_type, hx, {_KMV_FRAC_SQL.format(hx='hx')} AS frac,
               nd
        FROM ranked WHERE rn <= {KMV_K}
    ), theta AS (
        SELECT event_type,
               CASE WHEN max(nd) < {KMV_K} THEN 1.0 ELSE max(frac) END
                   AS th
        FROM sketch GROUP BY event_type
    ), common AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) FILTER (
                   WHERE a.frac < least(ta.th, tb.th)) AS n_below
        FROM sketch a
        JOIN sketch b ON a.hx = b.hx AND a.event_type < b.event_type
        JOIN theta ta ON ta.event_type = a.event_type
        JOIN theta tb ON tb.event_type = b.event_type
        GROUP BY 1, 2, least(ta.th, tb.th)
    ), exact AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_exact
        FROM h a JOIN h b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           round(coalesce(c.n_below, 0)
                 / least(ta.th, tb.th), 4) AS kmv_estimate
    FROM exact e
    LEFT JOIN common c ON e.type_a = c.type_a AND e.type_b = c.type_b
    JOIN theta ta ON ta.event_type = e.type_a
    JOIN theta tb ON tb.event_type = e.type_b
    """,
)
def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection: audience overlap WITHOUT a rescan.

    The estimate HLL cannot give: |A ∩ B| for every pair of event-type
    audiences, computed purely from each audience's bounded KMV sketch
    (the K smallest md5 hashes, built once by the same pass as
    ``agg_kmv_distinct``). Standard theta combination: clip both
    sketches to θ = min(θ_A, θ_B), count common hashes below θ,
    estimate = count/θ. Every hash and threshold derives from md5, so
    both the sketch contents and the estimate are engine-exact; the
    exact overlap rides along as the accuracy witness.

    Scale shape: sketches are ≤ K rows per group — the pair join, theta
    table, and estimate all operate on KB-sized data regardless of
    corpus size; only the initial distinct pre-aggregation and the
    exact-witness join (test-only, dropped in production) touch the
    full data, each map-side combinable on bounded keys. This is why
    sketch algebra wins at 100 TB: audience overlap across N segments
    costs one linear pass + O(N²K) tiny-row work, not N² scans.
    """
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        "event_type",
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("hx"),
    ).distinct()
    w = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "user_id",
        "hx",
        F.row_number().over(w.orderBy("hx")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("nd"),
    )
    frac = (
        F.conv(F.substring("hx", 1, 13), 16, 10).cast("double")
        / F.lit(float(2**52))
    )
    sketch = ranked.where(F.col("rn") <= KMV_K).select(
        "event_type", "hx", frac.alias("frac"), "nd"
    )
    theta = sketch.groupBy("event_type").agg(
        F.when(F.max("nd") < KMV_K, F.lit(1.0))
        .otherwise(F.max("frac"))
        .alias("th")
    )
    a = sketch.select(
        F.col("event_type").alias("type_a"), "hx", F.col("frac").alias("fa")
    )
    b = sketch.select(
        F.col("event_type").alias("type_b"),
        F.col("hx").alias("hxb"),
    )
    ta = theta.select(F.col("event_type").alias("type_a"), F.col("th").alias("tha"))
    tb = theta.select(F.col("event_type").alias("type_b"), F.col("th").alias("thb"))
    common = (
        a.join(b, (F.col("hx") == F.col("hxb")) & (F.col("type_a") < F.col("type_b")))
        .join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .groupBy("type_a", "type_b", F.least("tha", "thb").alias("th"))
        .agg(
            F.count_if(F.col("fa") < F.least("tha", "thb")).alias("n_below")
        )
    )
    ha = h.select(F.col("event_type").alias("type_a"), "user_id")
    hb = h.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("ub"))
    exact = (
        ha.join(
            hb,
            (F.col("user_id") == F.col("ub"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        exact.join(
            common.select("type_a", "type_b", "th", "n_below"),
            ["type_a", "type_b"],
            "left",
        )
        .join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(
                F.coalesce("n_below", F.lit(0))
                / F.least("tha", "thb"),
                4,
            ).alias("kmv_estimate"),
        )
    )


#: PSI drift parameters: epoch split date, fixed bin width (price units)
#: and bin count for `profile_feature_drift`.
DRIFT_CUTOFF = "1998-07-01"
DRIFT_BIN_W = 30_000
DRIFT_BINS = 20


@register(
    "profile_feature_drift",
    category="profile",
    oracle=f"""
    WITH binned AS (
        SELECT least(CAST(floor(o_totalprice / {DRIFT_BIN_W}) AS BIGINT),
                     {DRIFT_BINS - 1}) AS bin,
               o_orderdate < DATE '{DRIFT_CUTOFF}' AS is_ref
        FROM orders
    ), spine AS (
        SELECT unnest(range(0, {DRIFT_BINS})) AS bin
    ), sides AS (
        SELECT s.bin,
               coalesce(sum(CASE WHEN is_ref THEN 1 ELSE 0 END), 0)
                   AS n_ref,
               coalesce(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END), 0)
                   AS n_cur
        FROM spine s LEFT JOIN binned b ON s.bin = b.bin
        GROUP BY s.bin
    ), tot AS (
        SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM sides
    )
    SELECT bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(((n_cur + 1.0) / (t_cur + {DRIFT_BINS})
                  - (n_ref + 1.0) / (t_ref + {DRIFT_BINS}))
                 * ln(((n_cur + 1.0) / (t_cur + {DRIFT_BINS}))
                      / ((n_ref + 1.0) / (t_ref + {DRIFT_BINS}))), 6)
               AS psi_term
    FROM sides CROSS JOIN tot
    """,
)
def profile_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift profile between two data epochs.

    The monitoring question every recurring training pipeline must
    answer before retraining: did the feature distribution move?
    Orders before/after the cutoff stand in for reference/current
    epochs; ``o_totalprice`` is binned fixed-width and each bin
    contributes the classic PSI term (p_cur − p_ref)·ln(p_cur/p_ref),
    Laplace-smoothed (+1 per bin) so empty bins stay finite and both
    engines divide the identical rationals. Σ psi_term > 0.2 is the
    standard retrain/alarm threshold — left to the consumer, the
    per-bin terms localize WHERE the distribution moved.

    Scale shape: one scan, a map-side-combinable conditional count per
    (bin, side), a static {DRIFT_BINS}-row spine left-join to keep
    empty bins, and a 1-row broadcast of the totals. The window-free
    form of a distribution compare — nothing sorts, nothing exceeds
    bin-count rows after the first aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / DRIFT_BIN_W).cast("long"),
        F.lit(DRIFT_BINS - 1),
    )
    is_ref = F.col("o_orderdate") < F.lit(DRIFT_CUTOFF).cast("date")
    binned = orders.select(bin_col.alias("bin"), is_ref.alias("is_ref"))
    spine = spark.range(DRIFT_BINS).select(F.col("id").alias("bin"))
    sides = (
        spine.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("is_ref"), 1).otherwise(0)), F.lit(0)
            ).alias("n_ref"),
            F.coalesce(
                F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)), F.lit(0)
            ).alias("n_cur"),
        )
    )
    tot = sides.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = (F.col("n_cur") + 1.0) / (F.col("t_cur") + DRIFT_BINS)
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + DRIFT_BINS)
    return sides.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


#: Keyed-pseudonym salt: in production a vaulted secret; pinned here so
#: the oracle can recompute the masks.
PSEUDO_SALT = "dpp-mask-v1"


@register(
    "transform_pseudonymize_consistent",
    category="transform",
    oracle=f"""
    WITH mc AS (
        SELECT md5('{PSEUDO_SALT}' || CAST(c_custkey AS VARCHAR)) AS pid,
               c_mktsegment
        FROM customer
    ), mo AS (
        SELECT md5('{PSEUDO_SALT}' || CAST(o_custkey AS VARCHAR)) AS pid,
               o_totalprice
        FROM orders
    )
    SELECT mc.c_mktsegment,
           count(*)                      AS n_orders,
           count(DISTINCT mc.pid)        AS n_customers,
           round(sum(mo.o_totalprice), 2) AS total_price,
           min(mc.pid)                   AS sample_pid
    FROM mo JOIN mc ON mo.pid = mc.pid
    GROUP BY mc.c_mktsegment
    """,
)
def transform_pseudonymize_consistent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyed pseudonymization that preserves cross-table joinability.

    The data-governance transform between raw PII and the analytics
    lake: identifiers are replaced by a KEYED hash (salt + id — a
    vaulted secret in production, pinned here so the oracle recomputes
    it) applied INDEPENDENTLY to each table, and the test is the thing
    that matters: the masked tables still join — per-segment order
    counts, distinct customers, and revenue over the pseudonym join
    equal the cleartext join's numbers, while ``sample_pid`` pins the
    mask values themselves. Same-input-same-pseudonym across tables and
    runs (no mapping table to leak, no RNG state to ship) is exactly
    what GDPR-grade pipelines need for longitudinal analysis without
    re-identification keys in the lake.

    Scale shape: masking is a narrow map on each side (md5 stays in
    whole-stage codegen); the join keys on the 32-hex pseudonym —
    same shuffle cardinality as the original key, just wider rows.
    Nothing about the plan changes versus joining in the clear.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def mask(col: str) -> Column:
        return F.md5(F.concat(F.lit(PSEUDO_SALT), F.col(col).cast("string")))

    mc = customer.select(
        mask("c_custkey").alias("pid"), "c_mktsegment"
    )
    mo = orders.select(mask("o_custkey").alias("pid"), "o_totalprice")
    return (
        mo.join(mc, "pid")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("pid").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.min("pid").alias("sample_pid"),
        )
    )


@register(
    "transform_table_diff",
    category="transform",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 400 <> 1
    ), new AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 400 = 2
                    THEN o_totalprice + 1.0 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 400 <> 3
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                     AND o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 1 ELSE 0 END AS status_changed,
           CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                     AND o.o_totalprice IS DISTINCT FROM n.o_totalprice
                THEN 1 ELSE 0 END AS price_changed
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
)
def transform_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: added / removed / changed rows with column masks.

    The regression gate of every pipeline migration ("same output as
    yesterday's job?") and the audit step of every backfill: two table
    versions (here orders with a deterministic patch — one key stripe
    deleted, one inserted, one price-bumped) are full-outer-joined on
    the key, rows that differ are emitted with their change kind and a
    per-column changed mask (null-safe ``IS DISTINCT FROM``, so
    null→value and value→null count as changes). Identical rows are
    filtered out — the diff's size is the CHANGE volume, not the table.

    Scale shape: one co-partitioned full outer join on the key (AQE
    picks SMJ; with both sides bucketed it is exchange-free — see
    ``layout_bucketed_join``) and a residual comparison filter that
    discards the unchanged majority BEFORE anything downstream.
    Column-mask arithmetic is pure codegen.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    old = orders.where(key % 400 != 1)
    new = orders.where(key % 400 != 3).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            key % 400 == 2, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    o = old.select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderstatus").alias("os"),
        F.col("o_totalprice").alias("op"),
    )
    n = new.select(
        F.col("o_orderkey").alias("nk"),
        F.col("o_orderstatus").alias("ns"),
        F.col("o_totalprice").alias("np"),
    )
    j = o.join(n, F.col("ok") == F.col("nk"), "full_outer")
    status_chg = ~F.col("os").eqNullSafe(F.col("ns"))
    price_chg = ~F.col("op").eqNullSafe(F.col("np"))
    both = F.col("ok").isNotNull() & F.col("nk").isNotNull()
    return (
        j.where(
            F.col("ok").isNull()
            | F.col("nk").isNull()
            | status_chg
            | price_chg
        )
        .select(
            F.coalesce("ok", "nk").alias("o_orderkey"),
            F.when(F.col("ok").isNull(), "added")
            .when(F.col("nk").isNull(), "removed")
            .otherwise("changed")
            .alias("change"),
            F.when(both & status_chg, 1).otherwise(0).alias("status_changed"),
            F.when(both & price_chg, 1).otherwise(0).alias("price_changed"),
        )
    )


@register(
    "transform_dense_surrogate_ids",
    category="transform",
    oracle="""
    SELECT c_custkey,
           row_number() OVER (
               ORDER BY substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2),
                        md5(CAST(c_custkey AS VARCHAR)),
                        c_custkey) - 1 AS surrogate_id
    FROM customer
    """,
)
def transform_dense_surrogate_ids(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dense 0..N-1 surrogate keys WITHOUT a global sort.

    The warehouse-loading primitive (the reference's
    ``write_with_schema`` id column, reference dataset.py) done the way
    it must be done at 100 TB: a naive ``row_number() OVER (ORDER BY
    ...)`` funnels the table through ONE partition. Instead the stable
    order (md5 of the key — any total order works) is decomposed by its
    first byte into 256 buckets: per-bucket ranks share one hash
    exchange, bucket COUNTS aggregate to a 256-row table whose running
    sum gives each bucket's global offset, and the offsets broadcast
    back — id = offset + in-bucket rank. The oracle runs the naive
    global-sort form, so the hash check proves the decomposition
    assigns the IDENTICAL dense sequence. Same prefix-sum trick as
    ``events_watermark_audit``; recurse on the bucket table if 256
    offsets ever needed distributing.
    """
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    hx = F.md5(F.col("c_custkey").cast("string"))
    bucketed = customer.select(
        "c_custkey", hx.alias("hx"), F.substring(hx, 1, 2).alias("bkt")
    )
    in_w = Window.partitionBy("bkt").orderBy("hx", "c_custkey")
    ranked = bucketed.withColumn("rn", F.row_number().over(in_w))
    counts = ranked.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    off_w = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "bkt", F.coalesce(F.sum("n").over(off_w), F.lit(0)).alias("off")
    )
    return ranked.join(F.broadcast(offsets), "bkt").select(
        "c_custkey",
        (F.col("off") + F.col("rn") - 1).cast("long").alias("surrogate_id"),
    )


@register(
    "transform_recursive_cte_hierarchy",
    category="transform",
    oracle=f"""
    WITH RECURSIVE nodes AS (
        SELECT DISTINCT o_orderkey AS node FROM orders
    ), walk AS (
        SELECT node, node AS anc, 0 AS depth FROM nodes
        UNION ALL
        SELECT walk.node, walk.anc // 2, walk.depth + 1
        FROM walk WHERE walk.anc >= {HIERARCHY_ROOT_BOUND}
    )
    SELECT node,
           anc               AS root,
           CAST(depth AS BIGINT) AS depth
    FROM walk
    WHERE anc < {HIERARCHY_ROOT_BOUND}
    """,
)
def transform_recursive_cte_hierarchy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same hierarchy resolve as a Spark 4 RECURSIVE CTE.

    ``transform_hierarchy_flatten`` exists because Spark historically
    had no recursive SQL — its pointer-doubling rewrite is the
    O(log depth) scale answer. Spark 4 ships ``WITH RECURSIVE``
    (SPARK-24497), so this twin runs the DECLARATIVE form — the same
    walk the DuckDB oracle has always used, now executed by Spark
    itself — and must produce the identical (root, depth) table as
    both the oracle and the doubling rewrite.

    Scale shape: Spark executes a recursive CTE as iterative
    union-per-level — O(depth) joins, each a full pass over the
    frontier. Fine for shallow hierarchies and exactly why the
    pointer-doubling twin stays the recommendation for deep ones
    (O(log depth) rounds); having both registered makes the trade an
    A/B, not an article of faith.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.select(F.col("o_orderkey").alias("node")).distinct(
    ).createOrReplaceTempView("__rcte_nodes")
    # The walk materializes nodes x depth rows; Spark guards runaway
    # recursion at 1M rows (RECURSION_ROW_LIMIT_EXCEEDED — the x8 probe
    # hit it). Size the guard to the expected frontier volume; the
    # pointer-doubling twin needs no such knob.
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(200_000_000))
    return spark.sql(
        f"""
        WITH RECURSIVE walk AS (
            SELECT node, node AS anc, 0 AS depth FROM __rcte_nodes
            UNION ALL
            SELECT walk.node, walk.anc div 2 AS anc,
                   walk.depth + 1 AS depth
            FROM walk WHERE walk.anc >= {HIERARCHY_ROOT_BOUND}
        )
        SELECT node, anc AS root, CAST(depth AS BIGINT) AS depth
        FROM walk WHERE anc < {HIERARCHY_ROOT_BOUND}
        """
    )


@register(
    "agg_decimal_exact_revenue",
    category="aggregate",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
               AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2))
                       - CAST(l_discount AS DECIMAL(12,2)))) AS VARCHAR)
               AS revenue
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_decimal_exact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-typed money math: exact sums, no floating point anywhere.

    TPC-H's canonical money columns are DECIMAL; the registry's other
    revenue queries prove double+round parity, while this one runs the
    typed path end to end — prices and discounts cast to DECIMAL(12,2),
    the revenue product carried at the widened decimal scale, and the
    sums emitted as exact digit strings (so the comparison is literal
    string equality across engines, independent of each engine's
    internal decimal width). Associativity-free by construction: decimal
    addition is exact, so ANY aggregation order gives these digits —
    the property double summation only approximates.

    Scale shape: identical to any scan + hash aggregate on a bounded
    key; decimal arithmetic is codegen (slower per-op than double —
    128-bit — which is why the hot analytics path uses scaled integers
    instead; this query is the correctness anchor for the money type).
    """
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(price).cast("string").alias("sum_price"),
        F.sum(price * (one - disc)).cast("string").alias("revenue"),
    )


@register(
    "events_attribution_last_touch",
    category="events",
    oracle="""
    WITH ordered AS (
        SELECT event_id, user_id, event_type, ts,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_id END IGNORE NULLS) OVER w
                   AS touch_event_id,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN ts END IGNORE NULLS) OVER w
                   AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts,
           touch_event_id, touch_type,
           CAST(date_diff('microseconds', touch_ts, ts) AS BIGINT) AS gap_us
    FROM ordered
    WHERE event_type = 'purchase'
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the latest prior touch.

    The marketing-analytics primitive: for every conversion (purchase),
    find the same user's most recent preceding touch event (view or
    click) and report which it was and how long before the conversion it
    happened. One conditional ``last(..., ignorenulls)`` over a
    1-PRECEDING frame does it — no self-join, no per-conversion scan.

    Scale shape: a single exchange on user_id and one sort carries the
    whole query (the filter to purchases is applied after the window but
    prunes before anything else happens downstream). Same cost envelope
    as sessionization at 100 TB; gap is exact integer microseconds via
    timestampdiff on NTZ values (no tz round trip, no float).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    touch = F.col("event_type").isin("view", "click")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_touch = F.last(
        F.when(touch, F.struct("ts", "event_id", "event_type")), ignorenulls=True
    ).over(w)
    return (
        events.withColumn("__touch", last_touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("__touch.event_id").alias("touch_event_id"),
            F.col("__touch.event_type").alias("touch_type"),
            F.expr("timestampdiff(MICROSECOND, __touch.ts, ts)")
            .cast("bigint")
            .alias("gap_us"),
        )
    )


@register(
    "agg_bitmap_distinct",
    category="aggregate",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CAST(ceil(user_id / 32768.0) AS BIGINT))
                AS BIGINT) AS n_buckets
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct count via Spark's bitmap aggregates.

    The third point on the distinct-count design space the registry
    already maps: ``agg_distinct`` (exact, but distinct state = the key
    set itself), ``agg_hll_sketch`` (mergeable but approximate), and now
    bitmap aggregation — EXACT and mergeable. Keys bucket into 32768-bit
    bitmaps (``bitmap_bucket_number`` / ``bitmap_bit_position``), each
    bucket ORs map-side into 4 KB of state, and the count is a sum of
    popcounts. This is the pattern warehouse rollup tables use for exact
    distinct users per (dim, day) that still merge across days.

    Scale shape: the first aggregate keys on (group, bucket) — dense
    integer domains compress the exchange to |groups| x |id-range/32768|
    4 KB rows regardless of row count; the second is bounded-key. No
    row-level distinct state anywhere, unlike exact count(DISTINCT) whose
    Expand doubles the shuffle. The popcount-per-bucket sum is exact, so
    the oracle is plain COUNT(DISTINCT).
    """
    events = load_table(spark, sf_dir, "events")
    # The ceil(user_id/32768) oracle bucket formula matches
    # bitmap_bucket_number only for ids >= 0 (v=0 lands in bucket 0 in
    # both engines — the fixture contains it); a negative or NULL id
    # would make bitmap_bit_position error or the bucket formulas
    # silently diverge, so fail loudly if a future fixture breaks that.
    events = events.filter(
        F.assert_true(
            F.col("user_id") >= 0,
            F.lit("agg_bitmap_distinct requires non-negative user_id"),
        ).isNull()
    )
    per_bucket = events.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("bucket")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )


@register(
    "agg_weighted_median",
    category="aggregate",
    oracle="""
    WITH cum AS (
        SELECT l_returnflag,
               l_extendedprice AS price,
               sum(l_quantity) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cw,
               sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
        FROM lineitem
    ), crossing AS (
        SELECT l_returnflag, price,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY cw, price) AS rn
        FROM cum WHERE 2 * cw >= tw
    )
    SELECT l_returnflag, round(price, 2) AS weighted_median_price
    FROM crossing WHERE rn = 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: first value whose cumulative weight crosses half.

    The robust-statistics primitive percentile_approx can't give you
    exactly: each row carries a weight (quantity), and the weighted
    median is the smallest value at which cumulative weight reaches 50%
    of the group total. The naive form (one ordered window per group) is
    a single-task sort per group — the ×8 probe measured it ×5.6 with
    only 3 groups — so this runs the banded two-pass decomposition:

    1. rows aggregate map-side into (group, price-band) masses;
    2. one tiny window over the BAND histogram finds each group's
       crossing band and the cumulative weight strictly below it;
    3. only the crossing band's rows (a 1/|bands| sliver) are sorted,
       and the within-band cumulative sum finds the exact crossing row
       with the full (price, orderkey, linenumber) tiebreak.

    Scale shape: stage 1 is map-side combinable; stage 2 touches
    |groups|x|bands| rows; stage 3 sorts only the sliver. Re-probed ×1.0
    at ×8 after the rewrite. Same decomposition family as the watermark
    audit's prefix-max and the curriculum quantiles.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("w"),
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") / 100.0).alias("band"),
    )
    bands = lineitem.groupBy("l_returnflag", "band").agg(
        F.sum("w").alias("bw")
    )
    cum_band = Window.partitionBy("l_returnflag").orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("l_returnflag")
    crossing = (
        bands.withColumn("cum", F.sum("bw").over(cum_band))
        .withColumn("tw", F.sum("bw").over(tot))
        .filter(2 * F.col("cum") >= F.col("tw"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("l_returnflag").orderBy("band")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "band",
            (F.col("cum") - F.col("bw")).alias("below"),
            "tw",
        )
    )
    sliver = lineitem.join(F.broadcast(crossing), ["l_returnflag", "band"])
    cum_row = Window.partitionBy("l_returnflag").orderBy(
        "price", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pick = Window.partitionBy("l_returnflag").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    return (
        sliver.withColumn("cw", F.col("below") + F.sum("w").over(cum_row))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.round("price", 2).alias("weighted_median_price"),
        )
    )


@register(
    "profile_key_frequency_spectrum",
    category="profile",
    oracle="""
    WITH per_key AS (
        SELECT o_custkey, count(*) AS freq FROM orders GROUP BY o_custkey
    )
    SELECT freq,
           count(*) AS n_keys,
           CAST(freq * count(*) AS BIGINT) AS n_rows
    FROM per_key GROUP BY freq
    """,
)
def profile_key_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies: the join-key spectrum planners reason on.

    The third profiling lens beside the column profile (NDV/nulls) and
    the top-N skew diagnostic: for a prospective join/group key, how many
    keys occur exactly k times and how many rows those keys carry — the
    histogram that decides between plain hash join, AQE skew splitting,
    and explicit salting (one key at freq 10^6 needs salt; a flat
    spectrum at freq <= 10 never will). Two stacked map-side-combinable
    aggregates; the second's key domain is the distinct frequency values,
    which is tiny by pigeonhole at any scale.

    Scale shape: one exchange on the key for the per-key counts, one on
    the (bounded) frequency values; nothing wider than (key, count)
    ever moves.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("freq"))
    return per_key.groupBy("freq").agg(
        F.count(F.lit(1)).alias("n_keys"),
        (F.col("freq") * F.count(F.lit(1))).cast("long").alias("n_rows"),
    )


@register(
    "join_point_in_time_scd2",
    category="join",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), flagged AS (
        SELECT *,
               CASE WHEN prev_status IS NULL
                         OR prev_status <> o_orderstatus
                    THEN 1 ELSE 0 END AS is_change
        FROM ordered
    ), runs AS (
        SELECT *,
               sum(is_change) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS version
        FROM flagged
    ), grouped AS (
        SELECT o_custkey, version, o_orderstatus AS status,
               min(o_orderdate) AS valid_from
        FROM runs
        GROUP BY o_custkey, version, o_orderstatus
    ), dim AS (
        SELECT o_custkey, status, valid_from,
               lead(valid_from) OVER (PARTITION BY o_custkey
                                      ORDER BY version) AS valid_to
        FROM grouped
    )
    SELECT coalesce(d.status, 'UNKNOWN') AS status_at_ship,
           l.l_linestatus,
           count(*) AS n_items,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN dim d
      ON o.o_custkey = d.o_custkey
     AND l.l_shipdate >= d.valid_from
     AND (d.valid_to IS NULL OR l.l_shipdate < d.valid_to)
    GROUP BY coalesce(d.status, 'UNKNOWN'), l.l_linestatus
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join: facts meet the version valid AT ship.

    THE data-warehouse temporal primitive: every fact row must see the
    dimension attributes as they were when the fact happened, not as
    they are now (joining today's dimension backfills the future into
    history — the same leak ``split_temporal_holdout`` guards against,
    on the dimension axis). Composes the registered ``transform_scd2``
    validity intervals and joins each shipped line item to the customer
    status version whose half-open [valid_from, valid_to) covers its
    ship date. At most one version matches per fact; early-arriving facts
    (shipped before the first version) surface under 'UNKNOWN', so the
    aggregate reconciles EXACTLY to the fact count — pinned by the
    property test.

    Scale shape: the interval join is an equi-join on the dimension key
    with the range predicate evaluated post-match — per-key version
    chains are short (bounded by change frequency), so the range scan
    within each key is cheap; everything rides one custkey exchange
    shared with the SCD2 build itself.
    """
    scd2 = transform_scd2(spark, sf_dir).select(
        "o_custkey", "status", "valid_from", "valid_to"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    facts = lineitem.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    # LEFT join: facts shipped before the customer's first version are
    # early-arriving facts — a real warehouse emits them under an
    # 'UNKNOWN' version rather than dropping them, and the property test
    # reconciles the aggregate back to the exact fact count.
    joined = facts.join(
        scd2,
        (facts["o_custkey"] == scd2["o_custkey"])
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("status"), F.lit("UNKNOWN")).alias("status_at_ship"),
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


#: Funnel deadline: a stage only counts if it happens within this many
#: hours of the previous stage.
FUNNEL_DEADLINE_HOURS = 72


@register(
    "events_funnel_deadline",
    category="events",
    oracle=f"""
    WITH fv AS (
        SELECT user_id, min(ts) AS first_view
        FROM events WHERE event_type = 'view'
        GROUP BY user_id
    ), fc AS (
        SELECT e.user_id, min(e.ts) AS first_click
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click'
          AND e.ts > fv.first_view
          AND e.ts <= fv.first_view + INTERVAL {FUNNEL_DEADLINE_HOURS} HOUR
        GROUP BY e.user_id
    ), fp AS (
        SELECT e.user_id, min(e.ts) AS first_purchase
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > fc.first_click
          AND e.ts <= fc.first_click + INTERVAL {FUNNEL_DEADLINE_HOURS} HOUR
        GROUP BY e.user_id
    )
    SELECT fv.user_id,
           fv.first_view,
           fc.first_click,
           fp.first_purchase,
           fc.first_click    IS NOT NULL AS converted_click,
           fp.first_purchase IS NOT NULL AS converted_purchase
    FROM fv
    LEFT JOIN fc ON fv.user_id = fc.user_id
    LEFT JOIN fp ON fv.user_id = fp.user_id
    """,
)
def events_funnel_deadline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-bounded funnel: each stage must land within 72h of the last.

    The refinement product funnels actually ship with: an unbounded
    funnel (``events_funnel_conversion``) credits a purchase months
    after the click; attribution windows cap each stage at a deadline
    from the previous stage's timestamp, which changes both conversion
    counts and which event is "first". Same single-exchange stacked
    conditional-window form as the unbounded funnel — the deadline is
    one extra predicate inside each stage's ``when``, costing nothing.

    Scale shape: identical to the unbounded funnel — one user_id
    exchange, three whole-partition conditional minima, a per-user
    collapse on the same partitioning.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    ddl = F.expr(f"INTERVAL {FUNNEL_DEADLINE_HOURS} HOURS")
    w = Window.partitionBy("user_id")
    staged = (
        events.withColumn(
            "first_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "first_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("first_view"))
                    & (F.col("ts") <= F.col("first_view") + ddl),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_click"))
                    & (F.col("ts") <= F.col("first_click") + ddl),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    return (
        staged.filter(F.col("first_view").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("first_view").alias("first_view"),
            F.min("first_click").alias("first_click"),
            F.min("first_purchase").alias("first_purchase"),
        )
        .select(
            "user_id",
            "first_view",
            "first_click",
            "first_purchase",
            F.col("first_click").isNotNull().alias("converted_click"),
            F.col("first_purchase").isNotNull().alias("converted_purchase"),
        )
    )


#: RFM reference instant: "now" for recency, pinned so the segmentation is
#: reproducible (never wall-clock).
RFM_ASOF = "1998-08-01 00:00:00"


@register(
    "events_rfm_segmentation",
    category="events",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate),
                         TIMESTAMP '{RFM_ASOF}')        AS recency_days,
               count(*)                                  AS frequency,
               round(sum(o_totalprice), 2)               AS monetary
        FROM orders GROUP BY o_custkey
    ), med AS (
        SELECT quantile_cont(recency_days, 0.5)  AS r_med,
               quantile_cont(frequency, 0.5)     AS f_med,
               quantile_cont(monetary, 0.5)      AS m_med
        FROM rfm
    )
    SELECT o_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT)    AS frequency,
           monetary,
           (CASE WHEN recency_days <= r_med THEN 2 ELSE 1 END) * 100
         + (CASE WHEN frequency    >  f_med THEN 2 ELSE 1 END) * 10
         + (CASE WHEN monetary     >  m_med THEN 2 ELSE 1 END) AS rfm_code
    FROM rfm CROSS JOIN med
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary split at exact medians.

    The lifecycle-marketing primitive: each customer scored high/low on
    how recently they bought, how often, and how much, yielding the
    212-style segment codes campaigns target. Thresholds are EXACT
    medians computed once over the per-customer aggregate (1500 rows
    here, |customers| generally) and broadcast back — never a global
    ntile, which would funnel every customer through one ranking task
    (the probe-measured hotspot the weighted-median rewrite removed).
    Recency anchors to a pinned as-of instant, not wall clock, so the
    segmentation is reproducible and oracle-checkable.

    Scale shape: one custkey exchange for the per-customer aggregate;
    the median aggregate reduces to 3 numbers broadcast back; the code
    assignment is a pure map. At extreme customer counts the exact
    median swaps for the value-histogram crossing
    (``agg_weighted_median``'s banded form) with no change downstream.
    """
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.expr(
            f"timestampdiff(DAY, max(o_orderdate), TIMESTAMP '{RFM_ASOF}')"
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    med = rfm.agg(
        F.percentile("recency_days", 0.5).alias("r_med"),
        F.percentile("frequency", 0.5).alias("f_med"),
        F.percentile("monetary", 0.5).alias("m_med"),
    )
    code = (
        F.when(F.col("recency_days") <= F.col("r_med"), 2).otherwise(1) * 100
        + F.when(F.col("frequency") > F.col("f_med"), 2).otherwise(1) * 10
        + F.when(F.col("monetary") > F.col("m_med"), 2).otherwise(1)
    )
    return rfm.crossJoin(F.broadcast(med)).select(
        "o_custkey",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary",
        code.alias("rfm_code"),
    )


@register(
    "transform_golden_record",
    category="transform",
    oracle="""
    WITH versions AS (
        SELECT c_custkey AS entity_key, c_name AS name,
               c_mktsegment AS segment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS balance_cents,
               1 AS version
        FROM customer
        UNION ALL
        SELECT c_custkey,
               substr(c_name, 1, 2) || substr(c_name, 4),
               NULL,
               CAST(round(c_acctbal * 100) AS BIGINT) + 1000,
               2
        FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT entity_key,
           CAST(count(*) AS BIGINT) AS n_records,
           arg_max(name, length(name) * 10 + version) AS golden_name,
           max(segment) AS golden_segment,
           CAST(arg_max(balance_cents, version) AS BIGINT)
               AS balance_cents_latest,
           CAST(sum(CASE WHEN segment IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_complete_records
    FROM versions
    GROUP BY entity_key
    """,
)
def transform_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: merge duplicate records by rule.

    The step AFTER record linkage in every MDM/customer-360 pipeline:
    each matched cluster collapses to one survivor per attribute under
    declared rules — here the three canonical ones on a deterministic
    duplicate fixture (every third customer gains a corrupted, less
    complete, newer version — the ``dedup_fuzzy_entity_match``
    corruption): **most-complete** (longest name, version as tie-break)
    via ``max_by`` on an integer preference key, **any-non-null**
    (segment — the newer record lost it) via null-skipping ``max``, and
    **most-recent** (balance from the highest version) via ``max_by`` on
    version. Money is integer cents so recency-vs-value mistakes cannot
    hide in float noise. Preference keys are engine-exact integers;
    Spark ``max_by`` and DuckDB ``arg_max`` agree given unique keys,
    which the fixture guarantees (lengths differ by the corruption,
    versions are distinct).

    Scale shape: one union of narrow maps and ONE hash aggregate on the
    entity key with every rule as a map-side-combinable ``max_by`` —
    survivorship at 100 TB is exactly a groupBy, never a sort or a
    per-cluster loop.
    """
    customer = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    v1 = customer.select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        cents.alias("balance_cents"),
        F.lit(1).alias("version"),
    )
    v2 = customer.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("entity_key"),
        F.concat(
            F.substring("c_name", 1, 2),
            F.expr("substring(c_name, 4)"),
        ).alias("name"),
        F.lit(None).cast("string").alias("segment"),
        (cents + 1000).alias("balance_cents"),
        F.lit(2).alias("version"),
    )
    return (
        v1.unionByName(v2)
        .groupBy("entity_key")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.expr(
                "max_by(name, length(name) * 10 + version)"
            ).alias("golden_name"),
            F.max("segment").alias("golden_segment"),
            F.expr("max_by(balance_cents, version)").alias(
                "balance_cents_latest"
            ),
            F.sum(F.col("segment").isNotNull().cast("long")).alias(
                "n_complete_records"
            ),
        )
    )


@register(
    "profile_benford_audit",
    category="profile",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1
    ), counted AS (
        SELECT digit, count(*) AS n FROM digits GROUP BY digit
    )
    SELECT CAST(digit AS INTEGER) AS digit,
           CAST(n AS BIGINT) AS n_values,
           CAST((n * 10000) // sum(n) OVER () AS BIGINT) AS observed_bp,
           CAST(floor(log10(1 + 1.0 / digit) * 10000) AS BIGINT)
               AS benford_bp,
           CAST((n * 10000) // sum(n) OVER ()
                - CAST(floor(log10(1 + 1.0 / digit) * 10000) AS BIGINT)
                AS BIGINT) AS deviation_bp
    FROM counted
    """,
)
def profile_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over monetary values.

    The classic forensic screen for fabricated or systematically
    corrupted numeric columns: natural multi-magnitude amounts follow
    ``P(d) = log10(1 + 1/d)``; synthetic, capped, or hand-entered data
    does not. Reports the observed first-significant-digit distribution
    of order totals against the Benford expectation, both in integer
    basis points (the only float is ``log10`` of nine constant ratios —
    identical doubles in both engines, floored to integers before any
    comparison). Deviation_bp is the triage column: a uniform-ish
    fixture shows large positive deviations on high digits, exactly what
    this audit exists to surface.

    Scale shape: a narrow map (integer -> first digit via string head)
    into a 9-key aggregate; the normalizing window runs over 9 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    # floor() explicitly: DuckDB's double->BIGINT cast rounds half-even
    # while Spark's truncates — a x999.6 value would land in different
    # first digits.
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counted = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_values"))
    )
    benford = F.floor(F.log10(1 + 1.0 / F.col("digit")) * 10000).cast("long")
    observed = F.expr("(n_values * 10000) div sum(n_values) over ()")
    return counted.select(
        "digit",
        "n_values",
        observed.alias("observed_bp"),
        benford.alias("benford_bp"),
        (observed - benford).alias("deviation_bp"),
    )


#: Bitemporal fixture constants: load lag between business validity and
#: recording, the correction stripe, correction recording date, and the
#: knowledge instant the query reconstructs.
BITEMPORAL_LAG_DAYS = 2
BITEMPORAL_CORR_MOD = 5
BITEMPORAL_CORR_RECORDED = "1998-06-01"
# The knowledge instant must sit AFTER the correction recording date so
# the correction stripe survives the transaction-time filter and the
# latest-recorded-wins resolution actually runs (ADVICE r8: with K before
# the recording date, n_from_corrections was identically zero), while
# staying INSIDE the order-date range so late-recorded versions are still
# invisible and the UNKNOWN fallback path is exercised too.
BITEMPORAL_KNOWLEDGE = "1998-07-01"

_BITEMPORAL_DIM_SQL = f"""
    ordered AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), runs AS (
        SELECT *,
               sum(CASE WHEN prev_status IS NULL
                             OR prev_status <> o_orderstatus
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS version
        FROM ordered
    ), grouped AS (
        SELECT o_custkey, version, o_orderstatus AS status,
               min(o_orderdate) AS valid_from
        FROM runs GROUP BY o_custkey, version, o_orderstatus
    ), scd AS (
        SELECT o_custkey, version, status, valid_from,
               lead(valid_from) OVER (PARTITION BY o_custkey
                                      ORDER BY version) AS valid_to
        FROM grouped
    ), recorded AS (
        SELECT o_custkey, status, valid_from, valid_to,
               valid_from + INTERVAL {BITEMPORAL_LAG_DAYS} DAY AS recorded_at,
               0 AS is_correction
        FROM scd
        UNION ALL
        SELECT o_custkey, 'X', valid_from, valid_to,
               TIMESTAMP '{BITEMPORAL_CORR_RECORDED} 00:00:00', 1
        FROM scd
        WHERE o_custkey % {BITEMPORAL_CORR_MOD} = 0 AND version = 1
    ), believed AS (
        SELECT * FROM recorded
        WHERE recorded_at <= TIMESTAMP '{BITEMPORAL_KNOWLEDGE} 00:00:00'
    ), resolved AS (
        SELECT o_custkey, status, valid_from, valid_to, is_correction
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY o_custkey, valid_from
                       ORDER BY recorded_at DESC, status) AS vrn
            FROM believed
        ) WHERE vrn = 1
    )
"""


@register(
    "join_bitemporal_asof",
    category="join",
    oracle=f"""
    WITH {_BITEMPORAL_DIM_SQL},
    matched AS (
        SELECT l.l_linestatus, l.l_extendedprice, b.status, b.is_correction
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN resolved b
          ON o.o_custkey = b.o_custkey
         AND l.l_shipdate >= b.valid_from
         AND (b.valid_to IS NULL OR l.l_shipdate < b.valid_to)
    )
    SELECT coalesce(status, 'UNKNOWN') AS status_believed,
           l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(coalesce(is_correction, 0)) AS BIGINT)
               AS n_from_corrections,
           round(sum(l_extendedprice), 2) AS revenue
    FROM matched
    GROUP BY coalesce(status, 'UNKNOWN'), l_linestatus
    """,
)
def join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of join: business validity AND knowledge time.

    The second temporal axis ``join_point_in_time_scd2`` does not have:
    every dimension version carries both its BUSINESS validity
    ([valid_from, valid_to), when the status was true) and its RECORDED
    time (when the warehouse learned it — here a load lag of
    ``BITEMPORAL_LAG_DAYS``, plus a late correction stripe recorded
    months after the fact). Reconstructing "what did we believe at
    knowledge instant K about ship time T" filters versions to
    ``recorded_at <= K`` FIRST (transaction-time), then resolves
    business validity, latest-recorded-wins — the reproduce-the-report
    query every regulated warehouse must answer (and the axis plain SCD2
    silently conflates). Versions valid before K but recorded after it
    are correctly invisible: their facts resolve to the prior belief or
    UNKNOWN, and corrections recorded before K override originals via
    latest-recorded-wins resolution applied on the DIMENSION side (per
    key + validity window) BEFORE the fact join — per-key validity
    windows are disjoint, so each fact meets at most one belief row and
    the aggregate reconciles to the fact count without touching the
    fact grain (the fixture has duplicate (orderkey, linenumber) rows,
    so a fact-side winner window would silently drop real facts).

    Scale shape: the dimension build rides the same one-custkey-exchange
    SCD2 islands; the knowledge filter is a map-side predicate BEFORE
    the join (the transaction-time axis costs nothing at query time);
    the validity join is the same short-version-chain equi-join as the
    PIT join, with belief resolution a bounded window over the
    dimension, never the facts.
    """
    scd = transform_scd2(spark, sf_dir).select(
        "o_custkey", "status", "valid_from", "valid_to", "version"
    )
    recorded = scd.select(
        "o_custkey",
        "status",
        "valid_from",
        "valid_to",
        F.date_add("valid_from", BITEMPORAL_LAG_DAYS)
        .cast("timestamp")
        .alias("recorded_at"),
        F.lit(0).alias("is_correction"),
    ).unionByName(
        scd.filter(
            (F.col("o_custkey") % BITEMPORAL_CORR_MOD == 0)
            & (F.col("version") == 1)
        ).select(
            "o_custkey",
            F.lit("X").alias("status"),
            "valid_from",
            "valid_to",
            F.lit(BITEMPORAL_CORR_RECORDED).cast("timestamp").alias(
                "recorded_at"
            ),
            F.lit(1).alias("is_correction"),
        )
    )
    believed = recorded.filter(
        F.col("recorded_at") <= F.lit(BITEMPORAL_KNOWLEDGE).cast("timestamp")
    )
    # Resolve latest-recorded-wins per (key, validity window) BEFORE the
    # fact join: validity windows per key are disjoint, so each fact then
    # meets at most one belief row and the fact grain is untouched (the
    # fixture has duplicate (orderkey, linenumber) rows, so a fact-side
    # winner window would silently drop real facts).
    vwin = Window.partitionBy("o_custkey", "valid_from").orderBy(
        F.col("recorded_at").desc(), "status"
    )
    resolved = (
        believed.withColumn("vrn", F.row_number().over(vwin))
        .filter(F.col("vrn") == 1)
        .select("o_custkey", "status", "valid_from", "valid_to",
                "is_correction")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_linestatus", "l_extendedprice",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    facts = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    dim = resolved.withColumnRenamed("o_custkey", "dim_custkey")
    matched = facts.join(
        dim,
        (F.col("o_custkey") == F.col("dim_custkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
        "left",
    )
    return matched.groupBy(
        F.coalesce("status", F.lit("UNKNOWN")).alias("status_believed"),
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.coalesce("is_correction", F.lit(0)))
        .cast("long")
        .alias("n_from_corrections"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


#: Candidate functional dependencies probed by the FD miner:
#: (determinant, dependent) column pairs over orders/lineitem-joined data.
FD_CANDIDATES = (
    ("o_custkey", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus"),
    ("o_orderkey", "o_orderstatus"),
    ("o_orderstatus", "o_orderpriority"),
)


def _fd_sql(lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{lhs}' AS determinant, '{rhs}' AS dependent,
           CAST(count(DISTINCT {lhs}) AS BIGINT) AS n_lhs_values,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           CAST(sum(max_n) AS BIGINT) AS n_conforming,
           CAST((sum(max_n) * 10000)
                // (SELECT count(*) FROM orders) AS BIGINT) AS fd_strength_bp
    FROM (
        SELECT {lhs}, max(n) AS max_n
        FROM (SELECT {lhs}, {rhs}, count(*) AS n
              FROM orders GROUP BY {lhs}, {rhs})
        GROUP BY {lhs}
    )
    """


@register(
    "profile_functional_dependencies",
    category="profile",
    oracle=" UNION ALL ".join(_fd_sql(l, r) for l, r in FD_CANDIDATES),
)
def profile_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency mining — schema discovery.

    The profiling pass that recovers UNDECLARED structure from a lake
    table (the reference gets its FDs for free from Postgres
    constraints; a lake must mine them): for each candidate
    determinant -> dependent pair, the g3-style conformance measure —
    the fraction of rows kept if every determinant value maps to its
    MODAL dependent value. 10000 bp = exact FD (a key, or a derived
    column); high-but-not-exact surfaces near-FDs, which are data-bug
    detectors (the 30 rows violating "status determines priority" ARE
    the anomaly report). All counts integer, strength in basis points.

    Scale shape: per candidate, two stacked aggregates — (lhs, rhs)
    pair counts with map-side combine, then max per lhs — both keyed
    exchanges on bounded-cardinality columns; candidates union. A full
    FD search is exponential in columns; candidate-driven probing is
    how production profilers (and this operator) stay linear.
    """
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    outs = []
    for lhs, rhs in FD_CANDIDATES:
        pair_counts = orders.groupBy(lhs, rhs).agg(
            F.count(F.lit(1)).alias("n")
        )
        per_lhs = pair_counts.groupBy(lhs).agg(F.max("n").alias("max_n"))
        outs.append(
            per_lhs.agg(
                F.count(F.lit(1)).alias("n_lhs_values"),
                F.sum("max_n").alias("conforming"),
            ).select(
                F.lit(lhs).alias("determinant"),
                F.lit(rhs).alias("dependent"),
                F.col("n_lhs_values").cast("long"),
                F.lit(total).alias("n_rows"),
                F.col("conforming").cast("long").alias("n_conforming"),
                F.expr(f"(conforming * 10000) div {total}").alias(
                    "fd_strength_bp"
                ),
            )
        )
    result = outs[0]
    for df in outs[1:]:
        result = result.unionByName(df)
    return result


@register(
    "agg_kmv_difference",
    category="aggregate",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, user_id,
               md5(CAST(user_id AS VARCHAR)) AS hx
        FROM events
    ), ranked AS (
        SELECT event_type, user_id, hx,
               row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
               count(*)    OVER (PARTITION BY event_type)              AS nd
        FROM h
    ), sketch AS (
        SELECT event_type, hx, {_KMV_FRAC_SQL.format(hx='hx')} AS frac,
               nd
        FROM ranked WHERE rn <= {KMV_K}
    ), theta AS (
        SELECT event_type,
               CASE WHEN max(nd) < {KMV_K} THEN 1.0 ELSE max(frac) END
                   AS th
        FROM sketch GROUP BY event_type
    ), pairs AS (
        SELECT ta.event_type AS type_a, tb.event_type AS type_b,
               least(ta.th, tb.th) AS thmin
        FROM theta ta JOIN theta tb ON ta.event_type <> tb.event_type
    ), a_below AS (
        SELECT p.type_a, p.type_b, count(*) AS n_a
        FROM pairs p JOIN sketch s
          ON s.event_type = p.type_a AND s.frac < p.thmin
        GROUP BY 1, 2
    ), common_below AS (
        SELECT p.type_a, p.type_b, count(*) AS n_common
        FROM pairs p
        JOIN sketch a ON a.event_type = p.type_a AND a.frac < p.thmin
        JOIN sketch b ON b.event_type = p.type_b AND b.hx = a.hx
        GROUP BY 1, 2
    ), exact AS (
        SELECT p.type_a, p.type_b,
               (SELECT count(*) FROM h x WHERE x.event_type = p.type_a
                  AND x.user_id NOT IN (SELECT user_id FROM h y
                                        WHERE y.event_type = p.type_b))
                   AS n_exact_diff
        FROM pairs p
    )
    SELECT p.type_a, p.type_b,
           CAST(e.n_exact_diff AS BIGINT) AS n_exact_diff,
           round((coalesce(a.n_a, 0) - coalesce(c.n_common, 0)) / p.thmin, 4)
               AS kmv_estimate
    FROM pairs p
    LEFT JOIN a_below a ON p.type_a = a.type_a AND p.type_b = a.type_b
    LEFT JOIN common_below c ON p.type_a = c.type_a AND p.type_b = c.type_b
    JOIN exact e ON p.type_a = e.type_a AND p.type_b = e.type_b
    """,
)
def agg_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set DIFFERENCE: |A \\ B| from bounded sketches.

    Completes the sketch set algebra (distinct / union / intersection
    already registered): the asymmetric "in audience A but not B"
    estimate — the churn/exclusive-reach number — from the same KMV
    sketches, no rescan. Theta combination: clip both sketches to
    θ = min(θ_A, θ_B), then |A\\B| ~ (|A hashes < θ| - |common < θ|)/θ.
    Reported for every ORDERED type pair (difference is asymmetric, so
    both directions appear). Every hash, threshold, and count derives
    from md5 — engine-exact — and the exact difference rides along as
    the accuracy witness.

    Scale shape: identical to the intersection — sketches are ≤ K rows
    per group, the pair lattice is |types|² tiny rows, and only the
    initial distinct pass and the exact witness touch the corpus.
    """
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        "event_type",
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("hx"),
    ).distinct()
    w = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hx",
        F.row_number().over(w.orderBy("hx")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("nd"),
    )
    frac = (
        F.conv(F.substring("hx", 1, 13), 16, 10).cast("double")
        / F.lit(float(2**52))
    )
    sketch = ranked.where(F.col("rn") <= KMV_K).select(
        "event_type", "hx", frac.alias("frac")
    )
    theta = ranked.groupBy("event_type").agg(
        F.when(F.max("nd") < KMV_K, F.lit(1.0))
        .otherwise(F.max(F.when(F.col("rn") <= KMV_K, frac)))
        .alias("th")
    )
    pairs = (
        theta.select(F.col("event_type").alias("type_a"), F.col("th").alias("tha"))
        .join(
            theta.select(
                F.col("event_type").alias("type_b"), F.col("th").alias("thb")
            ),
            F.col("type_a") != F.col("type_b"),
        )
        .select("type_a", "type_b", F.least("tha", "thb").alias("thmin"))
    )
    a_below = (
        pairs.join(
            sketch.withColumnRenamed("event_type", "type_a"), "type_a"
        )
        .filter(F.col("frac") < F.col("thmin"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    sk_a = sketch.select(
        F.col("event_type").alias("type_a"), "hx", F.col("frac").alias("fa")
    )
    sk_b = sketch.select(F.col("event_type").alias("type_b"), "hx")
    common_below = (
        pairs.join(sk_a, "type_a")
        .filter(F.col("fa") < F.col("thmin"))
        .join(sk_b, ["type_b", "hx"])
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ha = h.select(F.col("event_type").alias("type_a"), "user_id")
    hb = h.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        ha.join(hb.withColumnRenamed("user_id", "ub"),
                (F.col("user_id") == F.col("ub")), "inner")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common_exact"))
    )
    nd_a = h.groupBy(F.col("event_type").alias("type_a")).agg(
        F.count(F.lit(1)).alias("nd_a")
    )
    return (
        pairs.join(F.broadcast(a_below), ["type_a", "type_b"], "left")
        .join(F.broadcast(common_below), ["type_a", "type_b"], "left")
        .join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .join(F.broadcast(nd_a), "type_a")
        .select(
            "type_a",
            "type_b",
            (
                F.col("nd_a") - F.coalesce("n_common_exact", F.lit(0))
            ).cast("long").alias("n_exact_diff"),
            F.round(
                (
                    F.coalesce("n_a", F.lit(0))
                    - F.coalesce("n_common", F.lit(0))
                )
                / F.col("thmin"),
                4,
            ).alias("kmv_estimate"),
        )
    )


def _entropy_profile_sql(column: str, table: str) -> str:
    """One column's entropy-profile SELECT (unrolled per column, the
    oracle-authoring pattern for bounded multi-column profiles)."""
    return f"""
    SELECT '{column}' AS column_name,
           CAST(count(*) AS BIGINT)             AS n_distinct,
           CAST(max(c) * 10000 // sum(c) AS BIGINT) AS top_share_bp,
           round(-sum((c * 1.0 / t) * ln(c * 1.0 / t)), 4) AS entropy_nats
    FROM (
        SELECT c, sum(c) OVER () AS t
        FROM (SELECT count(*) AS c FROM {table} GROUP BY {column})
    )"""


@register(
    "profile_column_entropy",
    category="profile",
    oracle=" UNION ALL ".join(
        [
            _entropy_profile_sql("o_orderstatus", "orders"),
            _entropy_profile_sql("o_orderpriority", "orders"),
            _entropy_profile_sql("c_mktsegment", "customer"),
        ]
    ),
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column Shannon entropy + concentration — the skew profile.

    What ``profile_table_columns`` (counts/nulls/ranges) cannot say:
    whether a categorical column's mass is spread (high entropy — good
    partition or stratification key) or concentrated (low entropy, one
    dominant value — a skew hazard for joins and a useless feature).
    Reports distinct count, the top value's share in exact basis points
    (integer arithmetic, hash-exact), and entropy in nats (4dp, the
    ``text_token_entropy`` parity discipline for transcendental sums).

    Scale shape: each column collapses to its bounded value histogram in
    one map-side-combinable aggregate; the entropy reduction runs over
    that dimension-sized histogram (the whole-frame window touches tens
    of rows, never the table). Columns profile independently — a wide
    table fans out embarrassingly parallel.
    """

    def profile(table: DataFrame, column: str) -> DataFrame:
        counts = table.groupBy(column).agg(F.count(F.lit(1)).alias("c"))
        p = F.col("c") * 1.0 / F.col("t")
        return (
            counts.withColumn("t", F.sum("c").over(Window.partitionBy()))
            .agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.expr("CAST(max(c) * 10000 div sum(c) AS BIGINT)").alias(
                    "top_share_bp"
                ),
                F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
            )
            .select(
                F.lit(column).alias("column_name"),
                "n_distinct",
                "top_share_bp",
                "entropy_nats",
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        profile(orders, "o_orderstatus")
        .unionByName(profile(orders, "o_orderpriority"))
        .unionByName(profile(customer, "c_mktsegment"))
    )


@register(
    "transform_scd6_hybrid",
    category="transform",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), flagged AS (
        SELECT *,
               CASE WHEN prev_status IS NULL
                         OR prev_status <> o_orderstatus
                    THEN 1 ELSE 0 END AS is_change
        FROM ordered
    ), runs AS (
        SELECT *,
               CAST(sum(is_change) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS version
        FROM flagged
    ), grouped AS (
        SELECT o_custkey, version, o_orderstatus AS status,
               min(o_orderdate) AS valid_from
        FROM runs
        GROUP BY o_custkey, version, o_orderstatus
    )
    SELECT o_custkey, version, status AS status_as_was, valid_from,
           lead(valid_from) OVER v AS valid_to,
           lead(valid_from) OVER v IS NULL AS is_current,
           last_value(status) OVER (
               PARTITION BY o_custkey ORDER BY version
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS status_as_is
    FROM grouped
    WINDOW v AS (PARTITION BY o_custkey ORDER BY version)
    """,
)
def transform_scd6_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 6 (hybrid 1+2+3): history rows carrying the current value.

    The warehouse pattern that answers "as was" and "as is" from the
    SAME row: every type-2 validity interval (version, status-at-time,
    [valid_from, valid_to)) is augmented with the key's CURRENT status
    and an ``is_current`` flag, so point-in-time queries use
    ``status_as_was`` while today's-view rollups use ``status_as_is``
    with no join back to a current table. The type-2 core comes from
    composing the run-length islands in the same one-exchange shape as
    ``transform_scd2`` (same window spec throughout, so Catalyst plans
    ONE custkey exchange feeding all four window functions).

    Scale shape: identical to the SCD2 build — one key exchange, short
    per-key chains; the current-value window adds no exchange because
    it shares the partitioning.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    change = (
        F.lag("o_orderstatus").over(w).isNull()
        | (F.lag("o_orderstatus").over(w) != F.col("o_orderstatus"))
    ).cast("long")
    runs = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        F.sum(change)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("version"),
    )
    grouped = runs.groupBy("o_custkey", "version", "o_orderstatus").agg(
        F.min("o_orderdate").alias("valid_from")
    )
    v = Window.partitionBy("o_custkey").orderBy("version")
    vall = v.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return grouped.select(
        "o_custkey",
        "version",
        F.col("o_orderstatus").alias("status_as_was"),
        "valid_from",
        F.lead("valid_from").over(v).alias("valid_to"),
        F.lead("valid_from").over(v).isNull().alias("is_current"),
        F.last("o_orderstatus").over(vall).alias("status_as_is"),
    )


#: Market-basket mining: minimum pair support for a rule to be reported.
BASKET_MIN_SUPPORT = 50


@register(
    "agg_market_basket_lift",
    category="aggregate",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS HUGEINT) AS n
        FROM baskets
    ), item_support AS (
        SELECT p_brand, CAST(count(*) AS HUGEINT) AS s
        FROM baskets GROUP BY p_brand
    ), pair_support AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS HUGEINT) AS s_ab
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT ps.brand_a, ps.brand_b,
           CAST(ps.s_ab AS BIGINT) AS support_ab,
           CAST(ps.s_ab * 10000 // sa.s AS BIGINT) AS confidence_a_to_b_bp,
           CAST(ps.s_ab * o.n * 1000000 // (sa.s * sb.s) AS BIGINT)
               AS lift_e6
    FROM pair_support ps
    JOIN item_support sa ON ps.brand_a = sa.p_brand
    JOIN item_support sb ON ps.brand_b = sb.p_brand
    CROSS JOIN n_orders o
    WHERE ps.s_ab >= {BASKET_MIN_SUPPORT}
    """,
)
def agg_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining: support / confidence / lift per item pair.

    The market-basket analysis the whole co-purchase family reduces to:
    each order's DISTINCT brand set is a basket; pairs are expanded
    INSIDE each basket from a sorted collect_set (one shuffle on the
    order key — never a baskets x baskets self-join, the
    ``dedup_minhash_lsh_pairs`` idiom); supports and the
    ``lift = P(ab) / (P(a)P(b))`` ratio come out in exact integer fixed
    point (e6 via HUGEINT-mirrored floor division), with a minimum pair
    support cutting the long random tail exactly like a production rule
    miner. Lift > 1e6 means the brands co-occur more than independence
    predicts — the cross-sell/recommendation signal.

    Scale shape: baskets collapse to (order, brand) distinct pairs at
    the first aggregate; the pair explode is bounded by basket size
    squared (brand vocabulary caps it); item supports are a bounded
    aggregate broadcast back onto the bounded pair table. At 100 TB the
    same plan holds with item vocabularies in the millions — pair
    support then gets a count-min prefilter before exact counting.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        # Four consumers (order count, item support, basket sets, and
        # their lineage): materialize once instead of re-running the
        # scan+join per consumer (the containment-dedup pattern).
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    item_support = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("s")
    )
    sets = baskets.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("brands")
    )
    pairs = F.flatten(
        F.transform(
            F.col("brands"),
            lambda x, i: F.transform(
                F.slice(F.col("brands"), i + 2, F.size("brands")),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pair_support = (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy("p.brand_a", "p.brand_b")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= BASKET_MIN_SUPPORT)
    )
    sa = item_support.select(
        F.col("p_brand").alias("brand_a"), F.col("s").alias("sa")
    )
    sb = item_support.select(
        F.col("p_brand").alias("brand_b"), F.col("s").alias("sb")
    )
    return (
        pair_support.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            F.col("s_ab").cast("bigint").alias("support_ab"),
            F.expr("CAST(s_ab * 10000 div sa AS BIGINT)").alias(
                "confidence_a_to_b_bp"
            ),
            F.expr(
                "CAST(CAST(s_ab AS DECIMAL(38,0)) * n * 1000000"
                " div (CAST(sa AS DECIMAL(38,0)) * sb) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )


#: Target encoding: fold count (customer-hashed) and smoothing strength.
TENC_FOLDS = 5
TENC_SMOOTH = 20


@register(
    "transform_target_encoding_oof",
    category="transform",
    oracle=f"""
    WITH rows_f AS (
        SELECT o_orderpriority AS category,
               CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
                    % {TENC_FOLDS} AS BIGINT) AS fold,
               CAST(round(o_totalprice * 100) AS HUGEINT) AS cents
        FROM orders
    ), per_cf AS (
        SELECT category, fold,
               CAST(count(*) AS HUGEINT) AS n,
               sum(cents) AS s
        FROM rows_f GROUP BY category, fold
    ), with_other AS (
        SELECT category, fold, n, s,
               sum(n) OVER (PARTITION BY category) - n AS n_other,
               sum(s) OVER (PARTITION BY category) - s AS s_other,
               sum(n) OVER () AS n_tot,
               sum(s) OVER () AS s_tot
        FROM per_cf
    )
    SELECT category, fold,
           CAST(n AS BIGINT) AS n_rows,
           CAST((s_other * n_tot + {TENC_SMOOTH} * s_tot) * 100
                // ((n_other + {TENC_SMOOTH}) * n_tot)
                AS BIGINT) AS encoded_cents_e2
    FROM with_other
    """,
)
def transform_target_encoding_oof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-fold target encoding: the leakage-aware categorical encoder.

    The ML-prep step plain one-hot cannot replace for high-cardinality
    categoricals: replace each category with the target mean — but a
    row must NEVER see its own target, so the encoding for (category,
    fold) uses only the OTHER folds' rows (folds hashed from the
    customer key, so a customer's orders share a fold — the grouped
    anti-leakage cut of ``sample_group_kfold``), smoothed toward the
    global mean with strength ``TENC_SMOOTH`` so rare categories shrink
    to the prior. enc = (sum_other + m·G/N) / (n_other + m), computed
    entirely in integer fixed point by multiplying through by N
    (DECIMAL(38)/HUGEINT mirror) — hash-exact, no float mean anywhere.

    Scale shape: one (category, fold) aggregate over the fact table —
    map-side combinable; the leave-fold-out subtraction and the global
    prior are windows over the BOUNDED (category x fold) grid, then the
    encoder table broadcasts back onto facts at apply time (not
    materialized here; the table IS the deliverable).
    """
    orders = load_table(spark, sf_dir, "orders")
    fold = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
               16, 10).cast("long")
        % TENC_FOLDS
    )
    rows_f = orders.select(
        F.col("o_orderpriority").alias("category"),
        fold.alias("fold"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("decimal(38,0)")
        .alias("cents"),
    )
    per_cf = rows_f.groupBy("category", "fold").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").alias("s"),
    )
    wc = Window.partitionBy("category")
    wall = Window.partitionBy()
    with_other = per_cf.select(
        "category",
        "fold",
        "n",
        "s",
        (F.sum("n").over(wc) - F.col("n")).alias("n_other"),
        (F.sum("s").over(wc) - F.col("s")).alias("s_other"),
        F.sum("n").over(wall).alias("n_tot"),
        F.sum("s").over(wall).alias("s_tot"),
    )
    return with_other.select(
        "category",
        "fold",
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            f"CAST((s_other * n_tot + {TENC_SMOOTH} * s_tot) * 100"
            f" div ((n_other + {TENC_SMOOTH}) * n_tot) AS BIGINT)"
        ).alias("encoded_cents_e2"),
    )


@register(
    "transform_impute_missing",
    category="transform",
    oracle="""
    WITH med AS (
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS imputed_median
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT)                       AS n_rows,
           CAST(count(*) - count(e.value) AS BIGINT)      AS n_null,
           m.imputed_median,
           round(sum(coalesce(e.value, m.imputed_median)), 2)
               AS total_value_after
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type, m.imputed_median
    """,
)
def transform_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation with its audit — the missing-value step.

    The ML-prep transform the winsorize/quantile family doesn't cover:
    NULL ``value``s are filled with their event type's median (computed
    over non-null rows only — imputing from a mean the NULLs themselves
    shifted is the classic bug), and the deliverable is the audit table
    a pipeline reviews before trusting the fill: null counts, the
    imputed value (4dp, the exact-percentile parity discipline), and
    the post-imputation total (a rounded SUM, never a rounded mean —
    both engines agree on sums at 2dp where interleaved-mean rounding
    diverges).

    Scale shape: medians are a bounded-key aggregate over the non-null
    stripe; the fill is a broadcast join back (the median table is
    type-vocabulary sized) feeding one map-side-combinable aggregate —
    two scans total, no window, no skew surface.
    """
    events = load_table(spark, sf_dir, "events")
    med = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 4).alias(
            "imputed_median"
        ))
    )
    return (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "imputed_median")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("value")).alias("n_null"),
            F.round(
                F.sum(F.coalesce("value", F.col("imputed_median"))), 2
            ).alias("total_value_after"),
        )
        .select(
            "event_type", "n_rows", "n_null", "imputed_median",
            "total_value_after",
        )
    )


#: MCV (most-common-values) list size for the cardinality estimator.
CARD_EST_MCV = 20


@register(
    "profile_join_cardinality_estimate",
    category="profile",
    oracle=f"""
    WITH counts AS (
        SELECT user_id, count(*) AS c
        FROM events
        GROUP BY user_id
    ), ranked AS (
        SELECT user_id, c,
               row_number() OVER (ORDER BY c DESC, user_id) AS rn
        FROM counts
    ), mcv AS (
        SELECT sum(c * c) AS mcv_pairs, sum(c) AS mcv_rows,
               count(*) AS mcv_keys
        FROM ranked WHERE rn <= {CARD_EST_MCV}
    ), rest AS (
        SELECT coalesce(sum(c), 0) AS rest_rows,
               count(*) AS rest_keys,
               coalesce(sum(c * c), 0) AS exact_rest
        FROM ranked WHERE rn > {CARD_EST_MCV}
    )
    SELECT CAST(m.mcv_rows + r.rest_rows AS BIGINT) AS n_rows,
           CAST(m.mcv_keys + r.rest_keys AS BIGINT) AS n_keys,
           CAST(m.mcv_pairs + r.exact_rest AS BIGINT) AS exact_pairs,
           CAST(m.mcv_pairs
                + CASE WHEN r.rest_keys > 0
                       THEN r.rest_rows * r.rest_rows // r.rest_keys
                       ELSE 0 END AS BIGINT) AS est_pairs,
           CAST(abs(m.mcv_pairs
                    + CASE WHEN r.rest_keys > 0
                           THEN r.rest_rows * r.rest_rows // r.rest_keys
                           ELSE 0 END
                    - (m.mcv_pairs + r.exact_rest)) * 10000
                // (m.mcv_pairs + r.exact_rest) AS BIGINT) AS err_bp
    FROM mcv m, rest r
    """,
)
def profile_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CBO-style join-size estimation from MCV statistics, audited exact.

    The statistic a cost-based optimizer keeps per column (ANALYZE's
    most-common-values list + uniformity for the tail) and the question
    it answers before every join: how many pairs will this key produce?
    Self-join size Σc² is the canonical skew detector — it decides
    salting, broadcast vs shuffle, and AQE skew splits. The operator
    computes the MCV-based estimate (exact counts for the top
    ``CARD_EST_MCV`` keys, n²/d uniformity for the tail) NEXT TO the
    exact answer, so the output is both the planner statistic and its
    measured error in basis points — statistics quality as data.

    Scale shape: one key-count aggregate (the only corpus exchange), a
    TakeOrdered top-K for the MCV list (never a global sort), one
    anti-join of the bounded count table against the 20-row MCV list,
    and two scalar aggregates. Integer arithmetic end to end.
    """
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    top = (
        counts.orderBy(F.col("c").desc(), "user_id")
        .limit(CARD_EST_MCV)
        .localCheckpoint(eager=True)
    )
    mcv = top.agg(
        F.sum(F.col("c") * F.col("c")).alias("mcv_pairs"),
        F.sum("c").alias("mcv_rows"),
        F.count(F.lit(1)).alias("mcv_keys"),
    )
    rest = (
        counts.join(F.broadcast(top.select("user_id")), "user_id", "left_anti")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).alias("rest_rows"),
            F.count(F.lit(1)).alias("rest_keys"),
            F.coalesce(F.sum(F.col("c") * F.col("c")), F.lit(0)).alias(
                "exact_rest"
            ),
        )
    )
    est_rest = F.when(
        F.col("rest_keys") > 0,
        F.expr("(rest_rows * rest_rows) div rest_keys"),
    ).otherwise(F.lit(0))
    return (
        mcv.crossJoin(rest)
        .withColumn("est_pairs_v", F.col("mcv_pairs") + est_rest)
        .withColumn(
            "exact_pairs_v", F.col("mcv_pairs") + F.col("exact_rest")
        )
        .select(
            (F.col("mcv_rows") + F.col("rest_rows")).cast("bigint").alias(
                "n_rows"
            ),
            (F.col("mcv_keys") + F.col("rest_keys")).cast("bigint").alias(
                "n_keys"
            ),
            F.col("exact_pairs_v").cast("bigint").alias("exact_pairs"),
            F.col("est_pairs_v").cast("bigint").alias("est_pairs"),
            F.expr(
                "CAST(abs(est_pairs_v - exact_pairs_v) * 10000"
                " div exact_pairs_v AS BIGINT)"
            ).alias("err_bp"),
        )
    )


@register(
    "profile_cramers_v",
    category="profile",
    oracle="""
    WITH cell AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS obs
        FROM orders GROUP BY 1, 2
    ), tot AS (
        SELECT a, b, obs,
               sum(obs) OVER (PARTITION BY a) AS rt,
               sum(obs) OVER (PARTITION BY b) AS ct,
               sum(obs) OVER () AS n
        FROM cell
    ), chi AS (
        SELECT max(n) AS n,
               (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
               least(count(DISTINCT a), count(DISTINCT b)) - 1 AS vmin,
               sum(CAST((obs * n - rt * ct) * (obs * n - rt * ct) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * rt * ct)) AS chi2
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(dof AS BIGINT) AS dof,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n * vmin)), 6) AS cramers_v
    FROM chi
    """,
)
def profile_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between two categorical columns.

    The profiling question "are these columns independent?" answered
    with the chi-square contingency statistic normalized to [0, 1]:
    ``V = sqrt(chi2 / (n * (min(r, c) - 1)))`` over order priority x
    order status.  Each chi-square term clears the expected-count
    division once — ``(obs*n - rt*ct)^2 / (n*rt*ct)`` — so the only
    float work is one product, one division, and the final sum; the
    numerators are exact BIGINTs in both engines.

    Scale shape: one map-side-combinable aggregate collapses the table
    to r x c cells (bounded by the categorical domains); the window
    sums, chi-square terms, and the final scalar all run on that tiny
    relation — the table is scanned exactly once regardless of size.
    """
    orders = load_table(spark, sf_dir, "orders")
    cell = (
        orders.groupBy(
            F.col("o_orderpriority").alias("a"),
            F.col("o_orderstatus").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = cell.select(
        "a",
        "b",
        "obs",
        F.sum("obs").over(Window.partitionBy("a")).alias("rt"),
        F.sum("obs").over(Window.partitionBy("b")).alias("ct"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    num = F.col("obs") * F.col("n") - F.col("rt") * F.col("ct")
    chi = tot.agg(
        F.max("n").alias("n"),
        (
            (F.count_distinct(F.col("a")) - 1)
            * (F.count_distinct(F.col("b")) - 1)
        ).alias("dof"),
        (
            F.least(
                F.count_distinct(F.col("a")), F.count_distinct(F.col("b"))
            )
            - 1
        ).alias("vmin"),
        F.sum(
            (num * num).cast("double")
            / (F.col("n").cast("double") * F.col("rt") * F.col("ct"))
        ).alias("chi2"),
    )
    return chi.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("dof").cast("bigint").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * F.col("vmin"))), 6
        ).alias("cramers_v"),
    )


@register(
    "profile_key_gini",
    category="profile",
    oracle="""
    WITH per_key AS (
        SELECT l_partkey AS key, count(*) AS c
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c, key) AS i,
               count(*) OVER () AS nk,
               sum(c) OVER () AS total
        FROM per_key
    )
    SELECT CAST(max(nk) AS BIGINT) AS n_keys,
           CAST(max(total) AS BIGINT) AS total_rows,
           CAST(max(c) AS BIGINT) AS max_count,
           round(CAST(sum((2 * i - nk - 1) * c) AS DOUBLE)
                 / (CAST(max(nk) AS DOUBLE) * max(total)), 6) AS gini
    FROM ranked
    """,
)
def profile_key_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-key row distribution (skew audit).

    The one-number answer to "how skewed is this join/shuffle key?"
    that the planner-facing profiles (``profile_join_skew``,
    ``profile_key_frequency_spectrum``) don't give: the Lorenz-curve
    Gini of rows-per-key, 0 = perfectly even, ->1 = one hot key owns
    the table.  The numerator ``sum((2i - n - 1) * c_i)`` over
    ascending counts is pure BIGINT — permutations inside tied counts
    change nothing (the weight sum over a tie run is fixed) — so both
    engines agree exactly; the single final division is the only float.

    Scale shape: one map-side-combinable count per key, then a global
    sort of KEY CARDINALITY (not rows) for the rank — the same cost
    class as the spectrum profile.  At extreme cardinality swap the
    exact rank for a t-digest of counts; the fixture-exact form is the
    audit baseline.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ranked = per_key.select(
        "c",
        F.row_number()
        .over(Window.partitionBy().orderBy("c", "key"))
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nk"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.max("nk").cast("bigint").alias("n_keys"),
        F.max("total").cast("bigint").alias("total_rows"),
        F.max("c").cast("bigint").alias("max_count"),
        F.round(
            F.sum(
                (2 * F.col("i") - F.col("nk") - 1) * F.col("c")
            ).cast("double")
            / (
                F.max("nk").cast("double")
                * F.max("total").cast("double")
            ),
            6,
        ).alias("gini"),
    )


@register(
    "profile_ks_drift",
    category="profile",
    oracle="""
    WITH tagged AS (
        SELECT n_chars,
               CAST(substr(source, 4) AS INTEGER) % 2 AS grp
        FROM documents
    ), per_value AS (
        SELECT n_chars,
               sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
        FROM tagged GROUP BY n_chars
    ), cum AS (
        SELECT sum(c0) OVER (ORDER BY n_chars) AS f0,
               sum(c1) OVER (ORDER BY n_chars) AS f1,
               sum(c0) OVER () AS n0,
               sum(c1) OVER () AS n1
        FROM per_value
    )
    SELECT CAST(max(n0) AS BIGINT) AS n0,
           CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(abs(f0 * n1 - f1 * n0)) AS BIGINT) AS d_num,
           round(CAST(max(abs(f0 * n1 - f1 * n0)) AS DOUBLE)
                 / (CAST(max(n0) AS DOUBLE) * max(n1)), 6) AS ks_d
    FROM cum
    """,
)
def profile_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between source cohorts.

    The exact nonparametric companion to ``profile_feature_drift``'s
    binned PSI: the KS statistic ``D = max |F_a(x) - F_b(x)|`` over
    document length, comparing even- vs odd-numbered sources.  The
    supremum is taken over CROSS-MULTIPLIED empirical CDFs
    (``|f0*n1 - f1*n0|`` — pure BIGINT), so the argmax is engine-exact;
    the one division happens after the max.  D is distribution-free:
    no binning choice to tune, detects any distributional change.

    Scale shape: collapse to per-distinct-value group counts (map-side
    combinable), then cumulative sums over DISTINCT VALUE cardinality —
    never raw rows.  At extreme value cardinality swap the exact CDF
    walk for t-digest quantile differences; the exact form is the audit
    baseline.
    """
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        "n_chars",
        (F.substring("source", 4, 10).cast("int") % 2).alias("grp"),
    )
    per_value = tagged.groupBy("n_chars").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
    )
    wc = Window.partitionBy().orderBy("n_chars")
    wa = Window.partitionBy()
    cum = per_value.select(
        F.sum("c0").over(wc).alias("f0"),
        F.sum("c1").over(wc).alias("f1"),
        F.sum("c0").over(wa).alias("n0"),
        F.sum("c1").over(wa).alias("n1"),
    )
    d = F.abs(F.col("f0") * F.col("n1") - F.col("f1") * F.col("n0"))
    return cum.agg(
        F.max("n0").cast("bigint").alias("n0"),
        F.max("n1").cast("bigint").alias("n1"),
        F.max(d).cast("bigint").alias("d_num"),
        F.round(
            F.max(d).cast("double")
            / (F.max("n0").cast("double") * F.max("n1").cast("double")),
            6,
        ).alias("ks_d"),
    )


@register(
    "agg_log2_histogram",
    category="aggregate",
    oracle="""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders WHERE o_totalprice > 0
    )
    SELECT CAST(length(bin(v)) - 1 AS BIGINT) AS bucket_log2,
           CAST(1 << (length(bin(v)) - 1) AS BIGINT) AS bucket_lo_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(v) AS BIGINT) AS min_cents,
           CAST(max(v) AS BIGINT) AS max_cents
    FROM cents
    GROUP BY 1, 2
    """,
)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style log2 histogram: power-of-two value buckets.

    Linear bins (``agg_histogram_fixed``) waste resolution on
    heavy-tailed money/latency distributions; the HDR-histogram answer
    is exponential buckets.  The bucket index is ``floor(log2(v))``
    computed WITHOUT floating log — ``length(bin(v)) - 1``, the binary
    digit count — because ``floor(ln(v)/ln(2))`` misassigns exact
    powers of two when the quotient lands a hair under an integer.
    Values are exact cents; every output column is BIGINT.

    Scale shape: a narrow in-codegen bucket expression feeding one
    map-side-combinable aggregate over ~60 possible buckets — the
    sketch-grade cost profile with exact results.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    return (
        cents.select(
            (F.length(F.bin("v")) - 1).cast("bigint").alias("bucket_log2"),
            F.expr(
                "CAST(shiftleft(1L, CAST(length(bin(v)) - 1 AS INT))"
                " AS BIGINT)"
            ).alias("bucket_lo_cents"),
            "v",
        )
        .groupBy("bucket_log2", "bucket_lo_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("v").cast("bigint").alias("min_cents"),
            F.max("v").cast("bigint").alias("max_cents"),
        )
    )


@register(
    "profile_id_gap_audit",
    category="profile",
    oracle="""
    WITH keys AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
    ), walk AS (
        SELECT k,
               CASE WHEN k = lag(k) OVER (ORDER BY k) + 1
                    THEN 0 ELSE 1 END AS is_new
        FROM keys
    ), summary AS (
        SELECT count(*) AS n_distinct,
               min(k) AS min_key, max(k) AS max_key,
               sum(is_new) AS n_islands
        FROM walk
    ), totals AS (
        SELECT count(*) AS n_rows FROM orders
    )
    SELECT CAST(t.n_rows AS BIGINT) AS n_rows,
           CAST(s.n_distinct AS BIGINT) AS n_distinct,
           CAST(s.min_key AS BIGINT) AS min_key,
           CAST(s.max_key AS BIGINT) AS max_key,
           CAST(s.n_islands AS BIGINT) AS n_islands,
           CAST(s.max_key - s.min_key + 1 - s.n_distinct AS BIGINT)
               AS n_missing,
           CAST(t.n_rows - s.n_distinct AS BIGINT) AS n_duplicate_rows
    FROM summary s, totals t
    """,
)
def profile_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-id continuity audit: gaps, islands, duplicates.

    The data-quality question behind every "did the extract drop rows?"
    incident: is the id sequence dense?  One pass reports distinct vs
    total (duplicates), min/max span vs distinct (missing ids), and the
    number of contiguous islands (HOW the missing ids cluster — one big
    hole vs scattered erosion — via the lag-walk islands idiom).  All
    BIGINT, engine-exact; the first row of the walk yields ``is_new=1``
    through the NULL-comparison CASE in both engines.

    Scale shape: the walk orders DISTINCT KEYS, never rows, after a
    map-side-combinable distinct; at extreme key cardinality partition
    the walk by key range (islands compose across ranges by comparing
    boundary keys) — the documented scale-out, same idiom.
    """
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    walk = keys.select(
        "k",
        F.when(
            F.col("k")
            == F.lag("k").over(Window.partitionBy().orderBy("k")) + 1,
            0,
        )
        .otherwise(1)
        .alias("is_new"),
    )
    summary = walk.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.sum("is_new").alias("n_islands"),
    )
    totals = orders.agg(F.count(F.lit(1)).alias("n_rows"))
    return summary.crossJoin(totals).select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.col("min_key").cast("bigint").alias("min_key"),
        F.col("max_key").cast("bigint").alias("max_key"),
        F.col("n_islands").cast("bigint").alias("n_islands"),
        (F.col("max_key") - F.col("min_key") + 1 - F.col("n_distinct"))
        .cast("bigint")
        .alias("n_missing"),
        (F.col("n_rows") - F.col("n_distinct"))
        .cast("bigint")
        .alias("n_duplicate_rows"),
    )


@register(
    "events_cohort_ltv",
    category="events",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ), purchases AS (
        SELECT f.cohort_day,
               CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE))
                          / 7.0) AS BIGINT) AS week_offset,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
    ), weekly AS (
        SELECT cohort_day, week_offset,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM purchases GROUP BY 1, 2
    )
    SELECT cohort_day, week_offset, n_purchases, revenue_cents,
           CAST(sum(revenue_cents) OVER (
               PARTITION BY cohort_day ORDER BY week_offset) AS BIGINT)
               AS cum_revenue_cents
    FROM weekly
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV accumulation: cumulative revenue by acquisition week.

    The money companion to ``events_retention_cohort``'s activity
    matrix: per acquisition cohort, purchase revenue by week offset and
    its running total — the curve whose plateau IS customer lifetime
    value, and the payback-period input every acquisition-spend
    decision reads.  Revenue is exact integer cents from the first
    aggregate on; the cumsum runs over bounded (cohort, week)
    cardinality; day arithmetic is DATE-to-DATE ``date_diff`` (boundary
    count equals elapsed days for DATE operands — safe, unlike
    sub-day units).

    Scale shape: one user-keyed first-seen aggregate, the same
    broadcast-sized join as the retention matrix, then everything runs
    on cohort x week cardinality.
    """
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_day",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
                / 7.0
            )
            .cast("bigint")
            .alias("week_offset"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    weekly = purchases.groupBy("cohort_day", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    return weekly.select(
        "cohort_day",
        "week_offset",
        "n_purchases",
        "revenue_cents",
        F.sum("revenue_cents")
        .over(Window.partitionBy("cohort_day").orderBy("week_offset"))
        .cast("bigint")
        .alias("cum_revenue_cents"),
    )


@register(
    "events_lness_histogram",
    category="events",
    oracle="""
    WITH user_weeks AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                   AS epoch_week,
               count(DISTINCT CAST(ts AS DATE)) AS active_days
        FROM events
        GROUP BY 1, 2
    )
    SELECT CAST(epoch_week AS BIGINT) AS epoch_week,
           CAST(active_days AS BIGINT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM user_weeks
    GROUP BY 1, 2
    """,
)
def events_lness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-ness engagement histogram: users by active-days-per-week.

    The engagement-depth metric DAU/WAU ratios hide: for each calendar
    week, how many users were active exactly 1..7 days (the L1..L7
    histogram whose right-shift is the canonical "habit forming"
    signal).  Weeks are fixed epoch-day buckets (``epoch_day // 7`` —
    pure integers, no engine week-truncation semantics to disagree on);
    active days are exact distinct dates.

    Scale shape: one (user, week) aggregate with a distinct-count over
    at most 7 values, then a bounded histogram aggregate — both
    map-side-combinable; no joins, one scan.
    """
    events = load_table(spark, sf_dir, "events")
    user_weeks = (
        events.select(
            "user_id",
            F.floor(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
                )
                / 7
            ).alias("epoch_week"),
            F.col("ts").cast("date").alias("d"),
        )
        .groupBy("user_id", "epoch_week")
        .agg(F.countDistinct("d").alias("active_days"))
    )
    return user_weeks.groupBy(
        F.col("epoch_week").cast("bigint").alias("epoch_week"),
        F.col("active_days").cast("bigint").alias("active_days"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


@register(
    "profile_missingness_patterns",
    category="profile",
    oracle="""
    WITH masked AS (
        SELECT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END
                   AS c_name,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
                   AS c_acctbal,
               CASE WHEN c_custkey % 11 = 3 THEN NULL
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    ), flagged AS (
        SELECT CASE WHEN c_name IS NULL THEN 'N' ELSE '-' END ||
               CASE WHEN c_acctbal IS NULL THEN 'B' ELSE '-' END ||
               CASE WHEN c_mktsegment IS NULL THEN 'S' ELSE '-' END
                   AS pattern,
               CASE WHEN c_name IS NULL THEN 1 ELSE 0 END
                 + CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END
                 + CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END
                   AS n_missing
        FROM masked
    )
    SELECT pattern,
           CAST(n_missing AS BIGINT) AS n_missing,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM flagged GROUP BY pattern, n_missing
    """,
)
def profile_missingness_patterns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Missingness-pattern mining: WHICH nulls co-occur, not how many.

    Per-column null counts (``profile_table_columns``) cannot
    distinguish "two independent feed glitches" from "one upstream
    join dropping whole records" — the signature of each is the
    PATTERN: the per-row combination of missing fields and its
    frequency (the missingno-matrix aggregate).  The fixture tables
    ship null-free, so the mask is derived deterministically (name
    missing for every 7th key, balance for negative accounts, segment
    for key % 11 = 3) — exactly reproducible by the oracle, and the
    co-occurrence structure (key-driven masks overlap on key
    arithmetic, value-driven on the balance sign) is non-trivial.
    Each pattern is a fixed-width flag string, so downstream tooling
    can split it back per column.

    Scale shape: pure projection to a tiny categorical key (at most
    2^k patterns for k audited columns) + one bounded-key aggregate —
    one scan, map-side combine does nearly all the work.
    """
    customer = load_table(spark, sf_dir, "customer")
    masked = customer.select(
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 11 == 3, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    name_null = F.col("c_name").isNull()
    bal_null = F.col("c_acctbal").isNull()
    seg_null = F.col("c_mktsegment").isNull()
    flagged = masked.select(
        F.concat(
            F.when(name_null, "N").otherwise("-"),
            F.when(bal_null, "B").otherwise("-"),
            F.when(seg_null, "S").otherwise("-"),
        ).alias("pattern"),
        (
            name_null.cast("int")
            + bal_null.cast("int")
            + seg_null.cast("int")
        )
        .cast("bigint")
        .alias("n_missing"),
    )
    return flagged.groupBy("pattern", "n_missing").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


@register(
    "transform_scd3_prev_value",
    category="transform",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ), changes AS (
        SELECT o_custkey, o_orderstatus, prev_status,
               o_orderdate, o_orderkey
        FROM ordered
        WHERE prev_status IS NULL OR prev_status <> o_orderstatus
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC,
                                           o_orderkey DESC) AS rn,
               count(*) OVER (PARTITION BY o_custkey) AS n_changes
        FROM changes
    )
    SELECT o_custkey,
           o_orderstatus AS current_status,
           prev_status   AS previous_status,
           o_orderdate   AS changed_on,
           CAST(n_changes AS BIGINT) AS n_transitions
    FROM ranked WHERE rn = 1
    """,
)
def transform_scd3_prev_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SCD Type 3: current value + ONE previous value per key.

    Completes the slowly-changing-dimension family in the registry
    (type 2 history intervals, point-in-time joins, type 6 hybrid):
    type 3 keeps LIMITED history — each dimension row carries the
    current attribute and the value it replaced, nothing older.  The
    build distills the change stream to transition rows (value differs
    from its predecessor), then keeps each key's LATEST transition:
    its new value is the current state, its predecessor is the
    previous-value column, and the change count tells the modeler how
    much history type 3 is discarding (the design trade-off made
    visible).

    Scale shape: one lag window + one latest-transition rank window,
    both over the same (custkey) exchange + sort — a single shuffle;
    the transition filter shrinks the stream before the rank.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        orders.withColumn("prev_status", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
    )
    latest_w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = changes.select(
        "o_custkey",
        "o_orderstatus",
        "prev_status",
        "o_orderdate",
        F.row_number().over(latest_w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("n_changes"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "o_custkey",
        F.col("o_orderstatus").alias("current_status"),
        F.col("prev_status").alias("previous_status"),
        F.col("o_orderdate").alias("changed_on"),
        F.col("n_changes").cast("bigint").alias("n_transitions"),
    )


#: Distinct-growth curve: prefix fractions of the corpus to measure at.
GROWTH_PREFIX_BUCKETS = 8


@register(
    "profile_distinct_growth",
    category="profile",
    oracle=f"""
    WITH keyed AS (
        SELECT o_custkey AS k,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                    || '|growth'), 1, 8))::BIGINT
                % {GROWTH_PREFIX_BUCKETS} AS bucket
        FROM orders
    ), firsts AS (
        SELECT k, min(bucket) AS first_bucket,
               count(*) AS occurrences
        FROM keyed GROUP BY k
    ), per_bucket AS (
        SELECT b.x AS prefix_buckets,
               (SELECT count(*) FROM keyed
                WHERE bucket < b.x) AS n_rows,
               (SELECT count(*) FROM firsts
                WHERE first_bucket < b.x) AS n_distinct
        FROM generate_series(1, {GROWTH_PREFIX_BUCKETS}) AS b(x)
    )
    SELECT CAST(prefix_buckets AS BIGINT) AS prefix_buckets,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_distinct * 1000000 // n_rows AS BIGINT)
               AS distinct_per_row_e6
    FROM per_bucket
    """,
)
def profile_distinct_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-cardinality growth curve — does the key space saturate?

    The profiling question behind dictionary encoding, broadcast
    thresholds, and state-store sizing: as the table grows, do NEW
    keys keep arriving (ids — distinct grows linearly) or does the
    key space saturate (categories — distinct flattens)?  Heaps'-law
    shape, measured: rows are assigned to {GROWTH_PREFIX_BUCKETS}
    deterministic hash buckets (a reproducible "arrival order"), and
    the curve reports rows vs distinct keys over every prefix of
    buckets — one point per prefix, computed WITHOUT rescanning per
    point: each key reduces to (first_bucket, occurrences) once, and
    a key is distinct-by-prefix-x iff first_bucket < x.  The fixture's
    custkey curve visibly flattens (saturating dimension), and the
    e6 distinct-per-row ratio is the number a capacity planner reads.

    Scale shape: one scan to (key, bucket); one combinable per-key
    aggregate; then a {GROWTH_PREFIX_BUCKETS}-row bounded explode
    joins the per-key firsts — never one pass per curve point.
    """
    orders = load_table(spark, sf_dir, "orders")
    n_b = GROWTH_PREFIX_BUCKETS
    keyed = orders.select(
        F.col("o_custkey").alias("k"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit("|growth"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n_b
        ).alias("bucket"),
    )
    firsts = keyed.groupBy("k").agg(
        F.min("bucket").alias("first_bucket"),
        F.count(F.lit(1)).alias("occurrences"),
    )
    # Bounded explode: each key contributes to every prefix AFTER its
    # first bucket; each row likewise. Aggregate both curves from the
    # reduced relations.
    rows_curve = (
        keyed.select(
            F.explode(
                F.sequence(F.col("bucket") + 1, F.lit(n_b))
            ).alias("prefix_buckets")
        )
        .groupBy("prefix_buckets")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    distinct_curve = (
        firsts.select(
            F.explode(
                F.sequence(F.col("first_bucket") + 1, F.lit(n_b))
            ).alias("prefix_buckets")
        )
        .groupBy("prefix_buckets")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return rows_curve.join(distinct_curve, "prefix_buckets").select(
        F.col("prefix_buckets").cast("bigint").alias("prefix_buckets"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.expr("CAST(n_distinct * 1000000 DIV n_rows AS BIGINT)").alias(
            "distinct_per_row_e6"
        ),
    )


#: Inclusion-dependency candidates: (child table, child col,
#: parent table, parent col) — the FK-discovery search space.
IND_CANDIDATES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


@register(
    "profile_inclusion_dependencies",
    category="profile",
    oracle="""
    WITH {ctes}
    {selects}
    """.replace(
        "{ctes}",
        ",\n    ".join(
            f"d{i} AS (SELECT DISTINCT {cc} AS v FROM {ct}),\n"
            f"    p{i} AS (SELECT DISTINCT {pc} AS v FROM {pt})"
            for i, (ct, cc, pt, pc) in enumerate(IND_CANDIDATES)
        ),
    ).replace(
        "{selects}",
        "\n    UNION ALL\n    ".join(
            f"SELECT '{ct}.{cc} < {pt}.{pc}' AS candidate,\n"
            f"           CAST((SELECT count(*) FROM d{i}) AS BIGINT)"
            f" AS n_child_values,\n"
            f"           CAST((SELECT count(*) FROM d{i}"
            f" JOIN p{i} USING (v)) AS BIGINT) AS n_contained,\n"
            f"           CAST((SELECT count(*) FROM d{i} JOIN p{i}"
            f" USING (v)) * 10000 // (SELECT count(*) FROM d{i})"
            f" AS BIGINT) AS containment_bp,\n"
            f"           CAST(CASE WHEN (SELECT count(*) FROM d{i}"
            f" JOIN p{i} USING (v)) = (SELECT count(*) FROM d{i})"
            f" THEN 1 ELSE 0 END AS BIGINT) AS is_inclusion"
            for i, (ct, cc, pt, pc) in enumerate(IND_CANDIDATES)
        ),
    ),
)
def profile_inclusion_dependencies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inclusion-dependency mining: DISCOVER the foreign keys.

    The schema-archaeology companion to
    ``profile_functional_dependencies``: given candidate column pairs,
    which satisfy child ⊆ parent?  Full containment is an inclusion
    dependency — the FK the undocumented lake lost; partial
    containment (customers ⊆ orders.custkey fails by exactly the
    never-ordered customers) measures how far off, in basis points.
    Each candidate reduces BOTH sides to distinct values before the
    containment semi-join — the join runs on key-cardinality
    relations, never row counts, which is what makes IND mining
    feasible on a 100 TB lake (SINDY/BINDER's discipline).

    Scale shape: per candidate, two map-side-combinable distinct
    aggregates + one equi-join on the reduced sides + 1-row counts;
    candidates are independent and union bounded rows.
    """
    results = None
    for ct, cc, pt, pc in IND_CANDIDATES:
        child = (
            load_table(spark, sf_dir, ct).select(F.col(cc).alias("v"))
            .distinct()
        )
        parent = (
            load_table(spark, sf_dir, pt).select(F.col(pc).alias("v"))
            .distinct()
        )
        contained = child.join(parent, "v")
        row = (
            child.agg(F.count(F.lit(1)).alias("n_child_values"))
            .crossJoin(
                contained.agg(F.count(F.lit(1)).alias("n_contained"))
            )
            .select(
                F.lit(f"{ct}.{cc} < {pt}.{pc}").alias("candidate"),
                F.col("n_child_values").cast("bigint"),
                F.col("n_contained").cast("bigint"),
                F.expr(
                    "CAST(n_contained * 10000 DIV n_child_values"
                    " AS BIGINT)"
                ).alias("containment_bp"),
                (F.col("n_contained") == F.col("n_child_values"))
                .cast("bigint")
                .alias("is_inclusion"),
            )
        )
        results = row if results is None else results.unionByName(row)
    return results


#: WOE/IV: number of quantile bins over the account balance.
WOE_BINS = 5


@register(
    "transform_woe_encoding",
    category="transform",
    oracle=f"""
    WITH labeled AS (
        SELECT c_custkey, c_acctbal,
               CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END AS bad
        FROM customer
    ), binned AS (
        SELECT *, ntile({WOE_BINS}) OVER (ORDER BY c_acctbal, c_custkey)
                      AS bin
        FROM labeled
    ), stats AS (
        SELECT bin,
               sum(1 - bad) AS n_good,
               sum(bad) AS n_bad
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM stats
    )
    SELECT CAST(s.bin AS BIGINT) AS bin,
           CAST(s.n_good AS BIGINT) AS n_good,
           CAST(s.n_bad AS BIGINT) AS n_bad,
           ln((CAST(s.n_good AS DOUBLE) * CAST(t.tb AS DOUBLE))
              / (CAST(s.n_bad AS DOUBLE) * CAST(t.tg AS DOUBLE))) AS woe,
           ((CAST(s.n_good AS DOUBLE) / CAST(t.tg AS DOUBLE))
            - (CAST(s.n_bad AS DOUBLE) / CAST(t.tb AS DOUBLE)))
           * ln((CAST(s.n_good AS DOUBLE) * CAST(t.tb AS DOUBLE))
                / (CAST(s.n_bad AS DOUBLE) * CAST(t.tg AS DOUBLE)))
               AS iv_term
    FROM stats s CROSS JOIN tot t
    """,
)
def transform_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning — the credit-scoring encoder.

    The regulated-industry cousin of target encoding
    (``transform_target_encoding_oof``): a numeric feature is quantile-
    binned and each bin is scored by the log odds ratio
    WOE = ln((good_share)/(bad_share)) with its Information-Value term
    — monotone-risk features for scorecards, interpretable by
    construction.  The label is derived deterministically (every 5th
    key "bad"); bins are exact ntiles with a total-order tiebreak so
    both engines bin identically; counts stay integer and the two
    ln-based outputs go through one shared expression text — the
    IEEE-exact float discipline.

    Scale shape: ntile costs one global sort at fixture scale; the
    production form swaps in the registered histogram-quantile binner
    (``transform_quantile_bin``'s approach) to avoid it — WOE itself
    is a {WOE_BINS}-row aggregate + projection either way.
    """
    customer = load_table(spark, sf_dir, "customer")
    labeled = customer.select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_custkey") % 5 == 0).cast("int").alias("bad"),
    )
    w = Window.partitionBy().orderBy("c_acctbal", "c_custkey")
    binned = labeled.withColumn("bin", F.ntile(WOE_BINS).over(w))
    stats = binned.groupBy("bin").agg(
        F.sum(1 - F.col("bad")).alias("n_good"),
        F.sum("bad").alias("n_bad"),
    )
    tot = stats.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    woe_expr = (
        "ln((CAST(n_good AS DOUBLE) * CAST(tb AS DOUBLE))"
        " / (CAST(n_bad AS DOUBLE) * CAST(tg AS DOUBLE)))"
    )
    return stats.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("bigint").alias("bin"),
        F.col("n_good").cast("bigint").alias("n_good"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.expr(woe_expr).alias("woe"),
        F.expr(
            "((CAST(n_good AS DOUBLE) / CAST(tg AS DOUBLE))"
            " - (CAST(n_bad AS DOUBLE) / CAST(tb AS DOUBLE)))"
            f" * {woe_expr}"
        ).alias("iv_term"),
    )


@register(
    "profile_value_patterns",
    category="profile",
    oracle="""
    WITH shaped AS (
        SELECT 'customer.c_name' AS col,
               regexp_replace(regexp_replace(regexp_replace(
                   c_name, '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'),
                   '[A-Z]', 'A', 'g') AS shape
        FROM customer
        UNION ALL
        SELECT 'part.p_brand',
               regexp_replace(regexp_replace(regexp_replace(
                   p_brand, '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'),
                   '[A-Z]', 'A', 'g')
        FROM part
        UNION ALL
        SELECT 'orders.o_orderpriority',
               regexp_replace(regexp_replace(regexp_replace(
                   o_orderpriority, '[0-9]', '9', 'g'), '[a-z]', 'a', 'g'),
                   '[A-Z]', 'A', 'g')
        FROM orders
    )
    SELECT col, shape,
           CAST(count(*) AS BIGINT) AS n_values
    FROM shaped GROUP BY col, shape
    """,
)
def profile_value_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-pattern (shape) profiling: WHAT FORMATS live in a column?

    The profiler view that catches mixed formats before they break a
    parser: every value maps to its shape token string (digits -> 9,
    lower -> a, upper -> A, punctuation kept literally), and the
    per-column shape histogram makes format drift visible — one
    'Aaaaaaaa#999999999' shape means a clean surrogate pattern; a
    second shape appearing IS the incident.  Three representative
    string columns are profiled in one union; the shape map is three
    stacked regexp_replace calls with identical semantics in both
    engines.

    Scale shape: pure codegen projection + a bounded aggregate (shape
    cardinality is tiny by construction — that is the point of
    shapes); the union is scan-parallel, no joins.
    """

    def shape(col: str) -> F.Column:
        out = F.regexp_replace(F.col(col), "[0-9]", "9")
        out = F.regexp_replace(out, "[a-z]", "a")
        return F.regexp_replace(out, "[A-Z]", "A")

    customer = load_table(spark, sf_dir, "customer").select(
        F.lit("customer.c_name").alias("col"),
        shape("c_name").alias("shape"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.lit("part.p_brand").alias("col"),
        shape("p_brand").alias("shape"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("orders.o_orderpriority").alias("col"),
        shape("o_orderpriority").alias("shape"),
    )
    return (
        customer.unionByName(part)
        .unionByName(orders)
        .groupBy("col", "shape")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_values"))
    )
