"""Relational operator core (SURVEY.md §2.2-§2.6, §2.9).

TPC-H-flavored queries over the driver tables exercising every
relational primitive the reference touches: projection, predicates,
equi/outer/semi/anti/cross joins, hash aggregation, conditional
aggregation, distinct, top-k, histogram binning, describe-style stats,
and the scalar function surface (floor, date arithmetic, string split /
concat, JSON extraction, nested access).

All plans are pure Catalyst built-ins — zero Python UDFs — so filters
and projections reach the parquet scan (PushedFilters / ReadSchema) and
whole-stage codegen covers the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.io.tables import load_table
from github_miner_spark.registry import register


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum(l_extendedprice) AS sum_base_price,
           sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
           sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
           avg(l_quantity) AS avg_qty,
           avg(l_extendedprice) AS avg_price,
           avg(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1-style pricing summary: filter + wide hash agg "
    "(map-side partial agg; filter pushed to parquet scan)",
    tags=("relational", "agg"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS l_orderkey,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           o.o_orderdate AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    description="TPC-H Q3-style: selective dim filter -> 3-way join -> agg -> top-k "
    "(customer side left to AQE: the filtered segment still scales with SF)",
    tags=("relational", "join", "topk"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "regional_revenue",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY region_name, nation_name
    """,
    description="TPC-H Q5-style star join: nation/region hint-broadcast "
    "(bounded dims), the SF-scaling supplier side sized by AQE; "
    "revenue rollup per region/nation",
    tags=("relational", "join", "agg"),
)
def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("region_name", "nation_name")
    )


@register(
    "parts_never_ordered",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
    ORDER BY p_partkey
    """,
    description="Anti join: parts with no lineitem (set-at-a-time NOT EXISTS — "
    "the engine's replacement for the reference's per-row existence gates)",
    tags=("relational", "anti-join"),
)
def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


@register(
    "customers_with_open_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    ORDER BY c.c_custkey
    """,
    description="Semi join: customers having at least one open order",
    tags=("relational", "semi-join"),
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "customer_order_stats_outer",
    oracle="""
    SELECT c.c_custkey AS c_custkey,
           count(o.o_orderkey) AS order_count,
           coalesce(sum(o.o_totalprice), 0.0) AS total_spend
    FROM customer c
    LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
    description="Left-outer join + agg: per-customer order count incl. zero-order customers",
    tags=("relational", "outer-join", "agg"),
)
def customer_order_stats_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@register(
    "distinct_order_profiles",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    ORDER BY o_orderstatus, o_orderpriority
    """,
    description="DISTINCT over a projection — reference documentation/queries.md:289-294",
    tags=("relational", "distinct"),
)
def distinct_order_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return o.select("o_orderstatus", "o_orderpriority").distinct().orderBy(
        "o_orderstatus", "o_orderpriority"
    )


@register(
    "quantity_histogram",
    oracle="""
    SELECT CAST(floor(l_quantity / 5.0) AS BIGINT) AS bucket, count(*) AS n
    FROM lineitem GROUP BY 1 ORDER BY bucket
    """,
    description="Histogram binning (A11): groupBy floor(x/width) — "
    "reference analysis/notebook.md hist(bins=250)",
    tags=("relational", "agg", "histogram"),
)
def quantity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy(F.floor(F.col("l_quantity") / 5.0).cast("bigint").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


@register(
    "lineitem_describe",
    oracle="""
    SELECT 'l_quantity' AS col, count(l_quantity) AS n, avg(l_quantity) AS mean,
           stddev_samp(l_quantity) AS std, min(l_quantity) AS min_v, max(l_quantity) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(l_extendedprice), avg(l_extendedprice),
           stddev_samp(l_extendedprice), min(l_extendedprice), max(l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount), avg(l_discount),
           stddev_samp(l_discount), min(l_discount), max(l_discount)
    FROM lineitem
    ORDER BY col
    """,
    description="describe()-style stats per numeric column (A10) — "
    "reference analysis/notebook.md:5-12",
    tags=("relational", "agg", "stats"),
)
def lineitem_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)

    def stats(colname: str) -> DataFrame:
        return li.agg(
            F.lit(colname).alias("col"),
            F.count(colname).alias("n"),
            F.avg(colname).alias("mean"),
            F.stddev_samp(colname).alias("std"),
            F.min(colname).alias("min_v"),
            F.max(colname).alias("max_v"),
        )

    return (
        stats("l_quantity")
        .unionByName(stats("l_extendedprice"))
        .unionByName(stats("l_discount"))
        .orderBy("col")
    )


@register(
    "scalar_function_showcase",
    oracle="""
    SELECT o_orderkey AS o_orderkey,
           CAST(floor(o_totalprice / 100.0) AS BIGINT) AS price_bucket,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           concat(o_orderpriority, '/', o_orderstatus) AS priority_status,
           str_split(o_orderpriority, '-')[1] AS priority_code
    FROM orders
    WHERE o_orderkey < 100
    ORDER BY o_orderkey
    """,
    description="Scalar function surface (F1-F11): floor, date_format, "
    "date arithmetic, concat, split — reference src/miner.ts:133-141, src/insertData.ts:28-31",
    tags=("relational", "scalar"),
)
def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") / 100.0).cast("bigint").alias("price_bucket"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
            F.concat_ws("/", "o_orderpriority", "o_orderstatus").alias("priority_status"),
            F.split(F.col("o_orderpriority"), "-").getItem(0).alias("priority_code"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "orders_running_rank",
    oracle="""
    SELECT o_custkey AS o_custkey, o_orderkey AS o_orderkey,
           o_totalprice AS o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk,
           sum(o_totalprice) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate ASC, o_orderkey ASC
                                   ROWS UNBOUNDED PRECEDING) AS running_spend
    FROM orders
    WHERE o_custkey < 50
    ORDER BY o_custkey, o_orderkey
    """,
    description="Window functions: per-customer rank + running total "
    "(beyond-reference relational surface)",
    tags=("relational", "window"),
)
def orders_running_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") < 50)
    w_rank = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w_rank).alias("rnk"),
            F.sum("o_totalprice").over(w_run).alias("running_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_SUPPLIER_NATION_SQL = """
SELECT n.n_name AS nation, count(*) AS n_suppliers,
       round(sum(s.s_acctbal), 2) AS total_acctbal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_acctbal > 0
GROUP BY n.n_name
ORDER BY total_acctbal DESC, nation
"""


@register(
    "sql_supplier_nation_rollup",
    oracle=_SUPPLIER_NATION_SQL,
    description="The Spark SQL surface: the SAME ANSI-SQL text runs as "
    "spark.sql over temp views and as the DuckDB oracle — proving the "
    "engine's SQL entry point, not just the DataFrame API. Catalyst "
    "plans it identically to the DataFrame form (broadcast dim join, "
    "partial agg).",
    tags=("relational", "sql", "agg"),
)
def sql_supplier_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "supplier", sf_dir).createOrReplaceTempView("supplier")
    load_table(spark, "nation", sf_dir).createOrReplaceTempView("nation")
    return spark.sql(_SUPPLIER_NATION_SQL)


@register(
    "revenue_rollup",
    oracle="""
    SELECT coalesce(n.n_name, 'ALL') AS nation,
           coalesce(o.o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderkey < 2000
    GROUP BY ROLLUP (n.n_name, o.o_orderpriority)
    ORDER BY nation, priority
    """,
    description="Multi-level aggregation via ROLLUP (nation, priority): "
    "grouping-set totals + grand total in ONE pass — an agg surface the "
    "reference lacks entirely (SURVEY §2.4 notes no grouping sets); "
    "Catalyst expands to a single Expand+HashAggregate, no second scan",
    tags=("relational", "rollup", "agg"),
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderkey") < 2000)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    joined = o.join(c, o.o_custkey == c.c_custkey).join(n, c.c_nationkey == n.n_nationkey)
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
        .orderBy("nation", "priority")
    )


@register(
    "lineitem_price_quantiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS q25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS q50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS q75,
           round(quantile_cont(l_extendedprice, 0.95), 6) AS q95
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    description="Exact percentiles per group (the describe()/quantile "
    "surface of the reference's pandas notebook, analysis/notebook.md): "
    "Spark's exact percentile() against DuckDB quantile_cont — both "
    "define quantiles by linear interpolation at rank (n-1)*p, so the "
    "values agree bit-for-bit modulo the repo-wide 6dp float "
    "convention. The exact form is a full sort per group; "
    "percentile_approx (t-digest, mergeable, one pass) is the "
    "documented 100 TB path when 1e-6 relative error is acceptable.",
    tags=("relational", "agg", "quantiles"),
)
def lineitem_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    q = lambda p, name: F.round(  # noqa: E731
        F.expr(f"percentile(l_extendedprice, {p})"), 6
    ).alias(name)
    return (
        li.groupBy("l_returnflag")
        .agg(q(0.25, "q25"), q(0.50, "q50"), q(0.75, "q75"), q(0.95, "q95"))
        .orderBy("l_returnflag")
    )


@register(
    "priority_order_counts",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.05
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    description="TPC-H Q4 shape: EXISTS-correlated subquery as a "
    "LEFT SEMI join (order counts per priority where some line item "
    "carries a deep discount, within a one-year date window). Catalyst "
    "rewrites the correlated EXISTS into a semi hash join; the date "
    "range pushes to the orders parquet scan as two comparison "
    "filters, so the probe side is year-bounded before the join.",
    tags=("relational", "semi-join", "subquery"),
)
def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    deep = li.filter(F.col("l_discount") > 0.05).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        o.join(deep, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-07-01'
    """,
    description="TPC-H Q14 shape: conditional-aggregate revenue share "
    "(percent of discounted revenue from PROMO parts in a six-month "
    "ship window). The part projection scales with SF, so its join "
    "strategy is AQE's size-based call (no forced hint); the CASE "
    "folds into the aggregate so one fact pass computes both the "
    "numerator and the denominator — no second scan, no self-join.",
    tags=("relational", "agg", "conditional"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "top_value_part_types",
    oracle="""
    SELECT p.p_type,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_type
    HAVING sum(l.l_extendedprice * (1 - l.l_discount)) >
           (SELECT 0.1 * sum(l2.l_extendedprice * (1 - l2.l_discount)) FROM lineitem l2)
    ORDER BY revenue DESC, p_type
    """,
    description="TPC-H Q11 shape: grouped revenue with a HAVING gate "
    "against a scalar subquery (part types carrying more than 10% of "
    "total discounted revenue). The scalar total is one extra "
    "aggregate broadcast into the filter; the SF-scaling part "
    "projection joins by AQE's size-based choice — two passes total, "
    "both full-scan-shaped, no correlated re-execution.",
    tags=("relational", "agg", "having"),
)
def top_value_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    total = li.agg((0.1 * F.sum(rev)).alias("gate"))
    by_type = (
        li.join(p.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(F.sum(rev).alias("raw_revenue"))
    )
    return (
        by_type.crossJoin(F.broadcast(total))
        .filter(F.col("raw_revenue") > F.col("gate"))
        .select("p_type", F.round("raw_revenue", 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "p_type")
    )


@register(
    "nation_volume_shipping",
    oracle="""
    WITH v AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM v GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    description="TPC-H Q7 shape (volume shipping): bilateral "
    "supplier-nation x customer-nation revenue by ship year. The two "
    "nation dims hint-broadcast; the SF-scaling supplier/customer "
    "frames are sized by AQE around one lineitem->orders hash join; "
    "the nation-pair predicate "
    "semi-filters both sides before the fact join, so the only real "
    "shuffle is fact-to-fact on orderkey.",
    tags=("relational", "join", "agg"),
)
def nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    pair = ["NATION_1", "NATION_2"]
    n1 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    supp = s.join(F.broadcast(n1), "s_nationkey").select(
        F.col("s_suppkey").alias("l_suppkey"), "supp_nation"
    )
    cust = c.join(F.broadcast(n2), "c_nationkey").select(
        F.col("c_custkey").alias("o_custkey"), "cust_nation"
    )
    return (
        li.join(supp, "l_suppkey")
        .join(
            o.join(cust, "o_custkey").select(
                F.col("o_orderkey").alias("l_orderkey"), "cust_nation"
            ),
            "l_orderkey",
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "large_order_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS tq
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(b.tq, 2) AS total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
    description="TPC-H Q18 shape (large-volume customers): HAVING over "
    "a fact-table rollup, then the surviving keys drive the joins — "
    "the per-order quantity sum is map-side combined, the HAVING "
    "filter shrinks the rollup to the big orders BEFORE any join, and "
    "orders/customer attach by hash join on the reduced set.",
    tags=("relational", "agg", "having", "topk"),
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy(F.col("l_orderkey"))
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 200)
        .select(F.col("l_orderkey").alias("o_orderkey"), "tq")
    )
    return (
        big.join(o, "o_orderkey")
        .join(c.select(F.col("c_custkey").alias("o_custkey"), "c_name"), "o_custkey")
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("tq"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "returned_item_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    description="TPC-H Q10 shape (returned-item reporting): top-20 "
    "customers by lost revenue on returned line items in a half-year "
    "window. The returnflag filter pushes to the lineitem scan and the "
    "date window to the orders scan BEFORE the fact-fact orderkey "
    "join; nation hint-broadcasts while the SF-scaling customer frame "
    "joins the reduced rollup under AQE's size check.",
    tags=("relational", "join", "agg", "topk"),
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .join(c.select("c_custkey", "c_name", "c_nationkey"), "c_custkey")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
            "c_nationkey",
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "brand_discount_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    description="TPC-H Q19 shape (discounted revenue, disjunctive "
    "predicates): three brand/size/quantity conjunctions OR'd across "
    "the part join. The part-only residue of the disjunction "
    "(p_brand IN the three brands, p_size in the union range) is "
    "applied BEFORE the join so only matching dimension rows ship, "
    "and the lineitem-only residue (l_quantity in the union range) "
    "is pushed to the fact scan; no broadcast hint — part scales "
    "with SF, so AQE picks broadcast only while the filtered side "
    "actually fits, degrading to a shuffled join instead of OOMing "
    "at 100x.",
    tags=("relational", "join", "predicates"),
)
def brand_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    # Part-only residue of the OR'd conjunctions: pre-filtering the
    # dimension keeps the join input minimal at any SF without forcing
    # a broadcast of the unfiltered table (VERDICT r6 "What's wrong" #1).
    p_filtered = p.select(
        F.col("p_partkey").alias("l_partkey"), "p_brand", "p_size"
    ).filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & F.col("p_size").between(1, 15)
    )
    # Lineitem-only residue pushes to the parquet scan.
    j = li.filter(F.col("l_quantity").between(1, 30)).join(p_filtered, "l_partkey")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="TPC-H Q6 shape (forecast revenue change): one fact "
    "scan, every predicate pushed to parquet (date range, discount "
    "band, quantity cap all appear in PushedFilters), one map-side-"
    "combined sum — the canonical scan-dominated query whose plan at "
    "100 TB is purely I/O-bound.",
    tags=("relational", "scan", "agg"),
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            )
        )
    )


@register(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
    description="TPC-H Q15 shape (top supplier): quarterly revenue "
    "rollup, then equality against the scalar max — Catalyst plans the "
    "max as a broadcast one-row subquery over the SAME rollup, so the "
    "fact table is scanned once; ties all surface, as in the spec.",
    tags=("relational", "agg", "subquery"),
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(
            s.select(F.col("s_suppkey"), "s_name"),
            rev.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "market_share_by_year",
    oracle="""
    WITH all_volume AS (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM all_volume GROUP BY o_year ORDER BY o_year
    """,
    description="TPC-H Q8 shape (national market share): the share of "
    "ASIA-region PROMO-part revenue supplied by one nation, by order "
    "year. Bounded dims (region, nation, the PROMO part filter) are "
    "hint-broadcast; the customer- and supplier-derived frames scale "
    "with SF, so their join strategy is left to AQE's size check "
    "rather than forced. The share is a conditional-sum / sum over "
    "one aggregation pass — no second scan, no self-join.",
    tags=("relational", "join", "agg"),
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n.n_regionkey == r.r_regionkey,
    ).select("n_nationkey")
    cust = c.join(
        F.broadcast(asia_nations), c.c_nationkey == F.col("n_nationkey")
    ).select(F.col("c_custkey").alias("o_custkey"))
    supp = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("l_suppkey"), "supp_nation")
    promo = p.filter(F.col("p_type") == "PROMO").select(
        F.col("p_partkey").alias("l_partkey")
    )
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(promo), "l_partkey")
        .join(supp, "l_suppkey")
        .join(
            o.join(cust, "o_custkey").select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.year("o_orderdate").alias("o_year"),
            ),
            "l_orderkey",
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.1 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
     AND p.p_type IN ('PROMO', 'ECONOMY')
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    description="TPC-H Q9 shape (product-type profit): per supplier "
    "nation and order year, revenue minus a retail-price-proportional "
    "cost proxy (this corpus carries no partsupp supplycost). The "
    "filtered part list hint-broadcasts; the supplier-nation frame "
    "scales with SF so AQE picks its strategy. The one real shuffle "
    "is lineitem->orders on orderkey, then a 2-key hash agg.",
    tags=("relational", "join", "agg"),
)
def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    p = load_table(spark, "part", sf_dir)
    supp = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select(F.col("s_suppkey").alias("l_suppkey"), "nation")
    parts = p.filter(F.col("p_type").isin("PROMO", "ECONOMY")).select(
        F.col("p_partkey").alias("l_partkey"), "p_retailprice"
    )
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - F.lit(
        0.1
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(parts), "l_partkey")
        .join(supp, "l_suppkey")
        .join(
            o.select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.year("o_orderdate").alias("o_year"),
            ),
            "l_orderkey",
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(amount), 2).alias("profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@register(
    "late_shipment_priority_counts",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                THEN 'late' ELSE 'on_time' END AS delay_bucket,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY delay_bucket ORDER BY delay_bucket
    """,
    description="TPC-H Q12 shape (shipping delay vs priority; this "
    "corpus has no shipmode/commit/receipt columns, so lateness is "
    "ship-lag > 90 days): one fact-to-fact join on orderkey, "
    "conditional counts per delay bucket in a single agg pass.",
    tags=("relational", "join", "agg", "conditional"),
)
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(
            o.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderdate",
                "o_orderpriority",
            ),
            "l_orderkey",
        )
        .withColumn(
            "delay_bucket",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, "late"
            ).otherwise("on_time"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    description="TPC-H Q13 shape (customer order distribution): "
    "left-outer join so zero-order customers land in the c_count=0 "
    "bucket, then a histogram over the per-customer counts — two "
    "shuffles (custkey agg, count histogram), both map-side combined.",
    tags=("relational", "outer-join", "agg", "histogram"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.select("c_custkey")
        .join(
            o.filter(F.col("o_orderpriority") != "5-LOW").select(
                F.col("o_custkey").alias("c_custkey"), "o_orderkey"
            ),
            "c_custkey",
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND p.p_type = 'SMALL'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    description="TPC-H Q17 shape (small-quantity-order revenue): the "
    "correlated average-quantity subquery becomes one per-part "
    "pre-aggregation joined back to the fact — the decorrelation "
    "Catalyst cannot always do automatically, written as the plan a "
    "100 TB run needs (one extra narrow agg instead of a per-row "
    "subquery).",
    tags=("relational", "join", "agg", "subquery"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    target = p.filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL")
    ).select(F.col("p_partkey").alias("l_partkey"))
    # per-part quantity thresholds only for the target parts: semi-filter
    # the fact FIRST so the avg aggregates a fraction of the corpus
    narrowed = li.join(F.broadcast(target), "l_partkey")
    thresh = narrowed.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cap")
    )
    return (
        narrowed.join(F.broadcast(thresh), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


@register(
    "suppliers_kept_waiting",
    oracle="""
    SELECT s.s_name AS s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE date_diff('day', o.o_orderdate, l1.l_shipdate) > 90
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND date_diff('day', o3.o_orderdate, l3.l_shipdate) > 90)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    description="TPC-H Q21 shape (suppliers who kept orders waiting; "
    "lateness = ship-lag > 90 days on finished orders, this corpus "
    "carrying no commit/receipt dates): the EXISTS becomes a left-semi "
    "and the NOT EXISTS a left-anti join against per-order supplier "
    "sets — both shuffle 8-byte keys only, no correlated re-scan "
    "per row.",
    tags=("relational", "semi-join", "anti-join", "agg", "topk"),
)
def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    finished = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    # pin the late-lines-of-finished-orders relation ONCE: the anti
    # probe's build side is the identical lineitem-join-filter subtree
    # as l1 itself, and without the pin it re-ran the scan + orders
    # join + lateness filter (3 lineitem scans in the r12 audit -> 2:
    # this pin plus the raw scan the semi build side genuinely needs).
    # Narrowed to the two join keys before pinning — shipdate is
    # consumed by the filter.
    late_lines = pin(
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(finished, "l_orderkey")
        .filter(late)
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late_lines
    # the semi/anti probes take the per-order supplier sets RAW:
    # existence joins are invariant to build-side duplicates, and the
    # former .distinct() pre-passes cost a corpus-scale Exchange +
    # aggregate each WITHOUT satisfying the join's partitioning (the
    # dedup shuffles by the pair, the join re-shuffles by orderkey) —
    # r12: dropping both reads 1.417s -> 0.956s interleaved at sf0.1,
    # rows identical at all three SFs
    other = li.select("l_orderkey", F.col("l_suppkey").alias("other_supp"))
    l1 = l1.join(
        other,
        (l1.l_orderkey == other.l_orderkey)
        & (l1.l_suppkey != other.other_supp),
        "left_semi",
    )
    # l1 rows all belong to finished orders, so the anti side only needs
    # late lines of finished orders — same result, smaller build side
    late_other = late_lines.select(
        "l_orderkey", F.col("l_suppkey").alias("other_supp")
    )
    l1 = l1.join(
        late_other,
        (l1.l_orderkey == late_other.l_orderkey)
        & (l1.l_suppkey != late_other.other_supp),
        "left_anti",
    )
    return (
        l1.join(
            s.select(F.col("s_suppkey").alias("l_suppkey"), "s_name"),
            "l_suppkey",
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "dormant_rich_customers",
    oracle="""
    SELECT c.c_mktsegment AS segment, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
    description="TPC-H Q22 shape (global sales opportunity; market "
    "segment standing in for the phone country code this corpus lacks): "
    "above-average-balance customers with no orders since 2000. The scalar "
    "average is a one-row broadcast, the NOT EXISTS a left-anti join "
    "on custkey — at 100 TB both sides stay a single shuffle-free "
    "broadcast + one anti-join shuffle.",
    tags=("relational", "anti-join", "subquery", "agg"),
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("segment")
    )


@register(
    "customer_spend_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    ),
    d AS (
      SELECT total_spend,
             CAST(ntile(10) OVER (ORDER BY total_spend DESC, o_custkey)
                  AS INTEGER) AS decile
      FROM spend
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS customers,
           round(sum(total_spend), 2) AS decile_spend,
           round(min(total_spend), 2) AS min_spend,
           round(max(total_spend), 2) AS max_spend
    FROM d GROUP BY decile ORDER BY decile
    """,
    description="Customer spend deciles: per-customer revenue rollup, "
    "NTILE(10) over the global spend order (custkey tiebreak keeps the "
    "bucket assignment deterministic across engines), then per-decile "
    "count/sum/min/max. The global window sorts one row per customer — "
    "at 100 TB the same decile assignment comes from "
    "repartitionByRange + per-partition offsets, exactly the "
    "shuffled_export_order scale note; the pre-aggregation keeps the "
    "sorted relation customer-sized, never order-sized.",
    tags=("relational", "window", "agg"),
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, "orders", sf_dir)
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    d = spend.select("total_spend", F.ntile(10).over(w).alias("decile"))
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("customers"),
            F.round(F.sum("total_spend"), 2).alias("decile_spend"),
            F.round(F.min("total_spend"), 2).alias("min_spend"),
            F.round(F.max("total_spend"), 2).alias("max_spend"),
        )
        .orderBy("decile")
    )


@register(
    "order_priority_checking",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND date_diff('day', o.o_orderdate, l.l_shipdate) > 90
      )
    GROUP BY priority ORDER BY priority
    """,
    description="TPC-H Q4 shape with a CROSS-TABLE-correlated EXISTS "
    "(vs priority_order_counts' table-local EXISTS predicate): the "
    "lateness test date_diff(o_orderdate, l_shipdate) > 90 references "
    "BOTH relations, so the semi join carries a non-equi conjunct "
    "alongside the orderkey equi-key — the shape Catalyst must "
    "evaluate inside the join rather than push to either scan. The "
    "quarter date filter still prunes the orders side first.",
    tags=("relational", "join", "semi", "agg"),
)
def order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (F.datediff(li.l_shipdate, o.o_orderdate) > 90),
        "left_semi",
    )
    return (
        late.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("priority")
    )


# --- TPC-H Q16 / Q20 shapes over the DERIVED part-supplier relation.
# The testdata ships no partsupp table, so both use the canonical
# derivation partsupp := SELECT DISTINCT l_partkey, l_suppkey FROM
# lineitem — documented here so the adaptation is explicit, with the
# original query shapes (distinct-count rollup + NOT IN; nested
# IN/HAVING with a correlated scalar threshold) preserved.


@register(
    "parts_supplier_relationship",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    description="TPC-H Q16 shape (parts/supplier relationship): "
    "distinct suppliers per (brand, type, size) over the derived "
    "part-supplier relation, excluding one brand, a type prefix, and "
    "suppliers in arrears (the s_comment complaints filter adapted to "
    "this schema's s_acctbal < 0). The exclusion list is a "
    "broadcast-sized anti-join; the part join is left to AQE (part "
    "scales with SF); the distinct-agg shuffles once on the rollup "
    "key after a map-side partial distinct.",
    tags=("relational", "join", "anti", "distinct-agg"),
)
def parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    bad = s.filter(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("suppkey"))
    pdim = p.filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").startswith("MEDIUM")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    # count_distinct(suppkey) per (brand, type, size) group already
    # dedupes, so the former (partkey, suppkey).distinct() pre-pass was
    # a redundant corpus-scale Exchange; joining the broadcast part
    # filter FIRST also shrinks the one remaining shuffle to the
    # qualifying-part rows (r12: the full-lineitem distinct Exchange is
    # gone from the plan; clean-window interleaved count-protocol
    # medians at sf0.1: 0.938s -> 0.469s)
    return (
        li.select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .join(F.broadcast(bad), "suppkey", "left_anti")
        .join(F.broadcast(pdim), "p_partkey")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "potential_part_promotion",
    oracle="""
    SELECT s.s_name AS s_name, s.s_acctbal AS s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_3'
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'red%'
      GROUP BY l.l_partkey, l.l_suppkey
      HAVING sum(l.l_quantity) > (
        SELECT 0.5 * sum(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
          AND year(l2.l_shipdate) = 1996
      )
    )
    ORDER BY s_name
    """,
    description="TPC-H Q20 shape (potential part promotion): suppliers "
    "in one nation whose all-time shipped quantity of some 'red' part "
    "exceeds half that part's 1996 volume (ps_availqty adapted to the "
    "derived relation: availability := shipped-to-date). The "
    "correlated scalar threshold is decorrelated into one per-part "
    "aggregate joined back (the Q17 discipline); nation is a bounded "
    "broadcast; the supplier probe is a semi join on the distinct "
    "qualifying suppkeys.",
    tags=("relational", "join", "semi", "subquery", "agg"),
)
def potential_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    red = p.filter(F.col("p_name").startswith("red")).select(
        F.col("p_partkey").alias("l_partkey")
    )
    narrowed = li.join(red, "l_partkey")
    cap = (
        narrowed.filter(F.year("l_shipdate") == 1996)
        .groupBy("l_partkey")
        .agg((F.lit(0.5) * F.sum("l_quantity")).alias("qty_cap"))
    )
    qualifying = (
        narrowed.groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("avail"))
        .join(cap, "l_partkey")
        .filter(F.col("avail") > F.col("qty_cap"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    nat = n.filter(F.col("n_name") == "NATION_3").select(
        F.col("n_nationkey").alias("s_nationkey")
    )
    return (
        s.join(F.broadcast(nat), "s_nationkey")
        .join(qualifying, "s_suppkey", "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS supplycost
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    eur AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_brand, e.s_name, e.s_acctbal, e.n_name,
             ps.supplycost,
             min(ps.supplycost) OVER (PARTITION BY p.p_partkey) AS best
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey
                 AND p.p_size IN (5, 15, 25, 35, 45)
                 AND p.p_type = 'STANDARD'
      JOIN eur e ON e.s_suppkey = ps.l_suppkey
    )
    SELECT s_acctbal, s_name, n_name,
           p_partkey, p_brand,
           CAST(round(supplycost, 6) AS DOUBLE) AS supplycost
    FROM cand WHERE supplycost = best
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    description="TPC-H Q2 shape (minimum-cost supplier): for each "
    "STANDARD part in five probe sizes, the European supplier(s) offering it at "
    "the minimum unit cost, ranked by account balance. The corpus has "
    "no partsupp, so supplycost := min(l_extendedprice/l_quantity) "
    "per (part, supplier) over the derived relation (a per-row "
    "division then a min over rows with l_quantity > 0, guarded "
    "identically on both engines because x/0 is IEEE Infinity in "
    "Spark but NULL in DuckDB — an exact selection, so the "
    "min-equality predicate is safe on doubles). "
    "The correlated min is decorrelated into one per-part "
    "aggregate joined back (the Q17/Q20 discipline); region/nation "
    "are bounded broadcasts; part and supplier joins are left to AQE "
    "(both scale with SF).",
    tags=("relational", "join", "subquery", "window"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_quantity > 0 keeps the engines' divergent x/0 semantics
    # (Spark IEEE Infinity vs DuckDB NULL) out of the min
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") > 0)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    eur_nat = n.join(
        F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
        n.n_regionkey == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
    eur = s.join(F.broadcast(eur_nat), "s_nationkey").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name", "s_acctbal", "n_name"
    )
    pdim = p.filter(
        F.col("p_size").isin(5, 15, 25, 35, 45) & (F.col("p_type") == "STANDARD")
    ).select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    # the part-dimension filter joins BELOW the (partkey, suppkey)
    # aggregation: ~1.7% of lineitem rows carry a qualifying part, so
    # aggregating first shuffled the whole fact table into a near-
    # useless rollup (591k groups from 600k rows at sf0.1) before the
    # filter dropped 98% of it. Joining first is exactly equivalent
    # (an inner equi-join on the grouping-key prefix commutes with the
    # per-(partkey, suppkey) min), and the aggregation reuses the
    # join's l_partkey partitioning when the dim side is too big to
    # broadcast — one corpus-scale exchange either way, but it now
    # carries qualifying rows only.
    ps = (
        li.select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(pdim, "l_partkey")
        .groupBy("l_partkey", "l_suppkey", "p_brand")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "supplycost"
            )
        )
    )
    cand = ps.join(eur, "l_suppkey")
    # decorrelated per-part min, joined back as an equality filter —
    # one small agg instead of a correlated subquery per candidate
    best = cand.groupBy("l_partkey").agg(F.min("supplycost").alias("best"))
    return (
        cand.join(best, "l_partkey")
        .filter(F.col("supplycost") == F.col("best"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            F.round("supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "important_stock_by_nation",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, CAST(round(sum(l_extendedprice), 6) AS DOUBLE) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, value
    FROM ps
    WHERE value > (SELECT round(0.001 * sum(value), 6) FROM ps)
    ORDER BY value DESC, p_partkey
    """,
    description="TPC-H Q11 shape (important stock identification): "
    "per-part inventory value held by one nation's suppliers, kept "
    "only where the part exceeds a fixed fraction of the nation's "
    "total (ps_supplycost*ps_availqty adapted to the derived "
    "relation: value := shipped extendedprice). The global threshold "
    "is a broadcast scalar subquery over the SAME aggregated frame "
    "(computed once, never collected); nation is a bounded broadcast; "
    "the supplier join is left to AQE. Values rounded to 6dp so the "
    "double-sum ordering is engine-stable.",
    tags=("relational", "join", "agg", "subquery"),
)
def important_stock_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    nat = n.filter(F.col("n_name") == "NATION_7").select(
        F.col("n_nationkey").alias("s_nationkey")
    )
    nsup = s.join(F.broadcast(nat), "s_nationkey").select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    ps = (
        li.join(nsup, "l_suppkey")
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 6).alias("value"))
    )
    total = ps.agg(F.round(F.lit(0.001) * F.sum("value"), 6).alias("threshold"))
    return (
        ps.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
        .orderBy(F.desc("value"), "p_partkey")
    )

@register(
    "binned_quantile_estimates",
    oracle="""
    WITH b AS (
      SELECT l_returnflag AS g, min(l_extendedprice) AS mn,
             max(l_extendedprice) AS mx,
             CAST(count(*) AS BIGINT) AS n,
             (max(l_extendedprice) - min(l_extendedprice)) / 1024.0 AS w
      FROM lineitem GROUP BY l_returnflag
    ),
    binned AS (
      SELECT l.l_returnflag AS g,
             CASE WHEN b.w > 0
                  THEN least(CAST(floor((l.l_extendedprice - b.mn) / b.w)
                             AS INTEGER), 1023)
                  ELSE 0 END AS bin
      FROM lineitem l JOIN b ON b.g = l.l_returnflag
    ),
    cnt AS (
      SELECT g, bin, CAST(count(*) AS BIGINT) AS bc FROM binned GROUP BY g, bin
    ),
    cum AS (
      SELECT g, bin, bc,
             CAST(sum(bc) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cm
      FROM cnt
    ),
    qs AS (SELECT unnest([0.5, 0.95, 0.99]) AS q),
    crossing AS (
      SELECT c.g, qs.q,
             b.mn + (CAST(c.bin AS DOUBLE)
                     + (qs.q * b.n - CAST(c.cm - c.bc AS DOUBLE)) / CAST(c.bc AS DOUBLE))
                    * b.w AS est
      FROM cum c JOIN b ON b.g = c.g, qs
      WHERE CAST(c.cm - c.bc AS DOUBLE) < qs.q * b.n
        AND CAST(c.cm AS DOUBLE) >= qs.q * b.n
    ),
    piv AS (
      SELECT g,
             round(max(CASE WHEN q = 0.5 THEN est END), 6) AS p50_est,
             round(max(CASE WHEN q = 0.95 THEN est END), 6) AS p95_est,
             round(max(CASE WHEN q = 0.99 THEN est END), 6) AS p99_est
      FROM crossing GROUP BY g
    ),
    exact AS (
      SELECT l_returnflag AS g,
             round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
             round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
             round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_exact
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT b.g AS l_returnflag, b.n AS n_rows,
           p.p50_est, e.p50_exact, p.p95_est, e.p95_exact,
           p.p99_est, e.p99_exact
    FROM b JOIN piv p ON p.g = b.g JOIN exact e ON e.g = b.g
    ORDER BY l_returnflag
    """,
    description="Fixed-bin (equi-width, 1024-bin) streaming quantile "
    "sketch per group, graded against the exact interpolated "
    "percentile -- the sketch family's rank member beside the HLL "
    "cardinality and count-min frequency sketches. The sketch path is "
    "how P50/P95/P99 run at 100 TB: one scan to per-group bounds "
    "(broadcast 3-row aggregate), one scan into (group, bin) integer "
    "counts -- mergeable, map-side-combinable, no per-group sort -- "
    "then the quantile read-back is a cumulative window over the "
    "<=1024-row-per-group histogram with exact-integer crossing "
    "detection and linear interpolation inside the crossing bin. The "
    "exact columns (a full sort per group, the cost the sketch "
    "avoids) are computed solely as graded ground truth. Estimates "
    "land within one bin width of exact; every count is integer so "
    "the crossing choice is bit-identical across engines.",
    tags=("relational", "sketch", "approx", "quantiles"),
)
def binned_quantile_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    x = F.col("l_extendedprice")
    # pin the per-group bounds aggregate: it is a <=|groups|-row frame
    # consumed three times (the binning join, the crossing join, the
    # final select), and each consumer re-derived it from a FULL
    # lineitem scan + aggregate (5 lineitem scans in the r12 audit ->
    # 3: bounds once, binning, and the exact grading twin)
    b = pin(
        li.groupBy(F.col("l_returnflag").alias("g")).agg(
            F.min(x).alias("mn"),
            F.max(x).alias("mx"),
            F.count("*").cast("bigint").alias("n"),
            ((F.max(x) - F.min(x)) / F.lit(1024.0)).alias("w"),
        )
    )
    # w == 0 (single-valued group) would make (x-mn)/w a 0/0 whose
    # NULL-vs-NaN resolution differs across engines; such a group is
    # all bin 0 and interpolates to est == mn exactly
    binned = li.join(
        F.broadcast(b), li["l_returnflag"] == b["g"]
    ).select(
        "g",
        F.when(
            F.col("w") > 0,
            F.least(
                F.floor((x - F.col("mn")) / F.col("w")).cast("int"), F.lit(1023)
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    cnt = binned.groupBy("g", "bin").agg(F.count("*").cast("bigint").alias("bc"))
    from pyspark.sql import Window

    cum = cnt.select(
        "g",
        "bin",
        "bc",
        F.sum("bc")
        .over(Window.partitionBy("g").orderBy("bin"))
        .cast("bigint")
        .alias("cm"),
    )
    qs = F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("q")
    target = F.col("q") * F.col("n")
    crossing = (
        cum.join(F.broadcast(b.select("g", "mn", "n", "w")), "g")
        .select("g", "bin", "bc", "cm", "mn", "n", "w", qs)
        .filter(
            ((F.col("cm") - F.col("bc")).cast("double") < target)
            & (F.col("cm").cast("double") >= target)
        )
        .select(
            "g",
            "q",
            (
                F.col("mn")
                + (
                    F.col("bin").cast("double")
                    + (target - (F.col("cm") - F.col("bc")).cast("double"))
                    / F.col("bc").cast("double")
                )
                * F.col("w")
            ).alias("est"),
        )
    )
    piv = crossing.groupBy("g").agg(
        F.round(F.max(F.when(F.col("q") == 0.5, F.col("est"))), 6).alias("p50_est"),
        F.round(F.max(F.when(F.col("q") == 0.95, F.col("est"))), 6).alias("p95_est"),
        F.round(F.max(F.when(F.col("q") == 0.99, F.col("est"))), 6).alias("p99_est"),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95_exact"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99_exact"),
    )
    return (
        b.select("g", "n")
        .join(piv, "g")
        .join(exact, "g")
        .select(
            F.col("g").alias("l_returnflag"),
            F.col("n").alias("n_rows"),
            "p50_est",
            "p50_exact",
            "p95_est",
            "p95_exact",
            "p99_est",
            "p99_exact",
        )
        .orderBy("l_returnflag")
    )
