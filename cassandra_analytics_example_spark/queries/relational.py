"""Relational analytics surface (SURVEY.md §7 M2): filters/projections,
joins (broadcast + shuffle, semi/anti), grouped aggregation incl. distinct,
windows, top-k, set ops, rollup, scalar string/date/math/JSON functions,
correlated subqueries. Everything is built-in DataFrame algebra — Catalyst
pushes filters/prunes columns into the parquet scan, AQE picks join
strategies; small dimension tables are broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.numeric import (
    dec,
    money_avg,
    money_sum,
    revenue_expr,
)
from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.operators.quantiles import (
    group_quantiles_exact,
)
from cassandra_analytics_example_spark.operators.relational import top_k_per_group
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table
from cassandra_analytics_example_spark.session import temp_root

# --------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape): scan-filter → hash aggregate.
# --------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)                    AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)        AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)      AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)           AS sum_charge,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*)         AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / count(l_extendedprice)                                         AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
         / count(l_discount)                                              AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: pushed filter + 8-way hash aggregate",
    tags=("relational", "aggregate"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            F.sum(revenue_expr()).cast("double").alias("sum_disc_price"),
            F.sum(
                revenue_expr() * (F.lit(1) + dec("l_tax", 4, 2))
            ).cast("double").alias("sum_charge"),
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("*")
            ).alias("avg_qty"),
            money_avg("l_extendedprice", "avg_price"),
            money_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q02 — revenue forecast (TPC-H Q6 shape): tight filter → scalar aggregate.
# --------------------------------------------------------------------------


@register(
    "q02_revenue_filter",
    oracle="""
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6: all predicates pushed to the parquet scan, scalar agg",
    tags=("relational", "filter"),
)
def q02_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice", 12, 2) * dec("l_discount", 4, 2))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q03 — star join: fact ⋈ broadcast dims, grouped revenue.
# --------------------------------------------------------------------------


@register(
    "q03_revenue_by_nation",
    oracle="""
SELECT n.n_name AS nation,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('AMERICA', 'ASIA')
GROUP BY n.n_name
""",
    doc="star join lineitem⋈supplier⋈nation⋈region with broadcast dims",
    tags=("relational", "join"),
)
def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    dims = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name").isin("AMERICA", "ASIA"))
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(revenue_expr()).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q04 — semi join: order priority counts where at least one lineitem exists.
# --------------------------------------------------------------------------


@register(
    "q04_order_priority",
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority
""",
    doc="EXISTS → left-semi join, grouped count (TPC-H Q4 shape)",
    tags=("relational", "join"),
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --------------------------------------------------------------------------
# q05 — top-k with join: ten biggest customers by order volume.
# --------------------------------------------------------------------------


@register(
    "q05_top_customers",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spent,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
""",
    doc="join + aggregate + total-order top-k (sort/limit)",
    tags=("relational", "topk"),
)
def q05_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(dec("o_totalprice", 18, 6)).cast("double").alias("total_spent"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# q06 — window functions: rank + running sum per customer.
# --------------------------------------------------------------------------


@register(
    "q06_window_order_rank",
    oracle="""
SELECT o_custkey, o_orderkey, rnk, running_spent
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER w AS rnk,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
) WHERE rnk <= 3
""",
    doc="window ranking + rows-frame running aggregate, top-3 per customer",
    tags=("relational", "window"),
)
def q06_window_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rnk"),
            F.sum(dec("o_totalprice", 18, 6))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
            .alias("running_spent"),
        )
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# q07 — distinct aggregates per group.
# --------------------------------------------------------------------------


@register(
    "q07_segment_stats",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_customers,
       count(DISTINCT c_nationkey) AS n_nations,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(c_acctbal) AS avg_acctbal,
       min(c_name) AS first_name,
       max(c_name) AS last_name
FROM customer
GROUP BY c_mktsegment
""",
    doc="grouped distinct-count + deterministic avg + min/max",
    tags=("relational", "aggregate"),
)
def q07_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        money_avg("c_acctbal", "avg_acctbal"),
        F.min("c_name").alias("first_name"),
        F.max("c_name").alias("last_name"),
    )


# --------------------------------------------------------------------------
# q08 — set operations.
# --------------------------------------------------------------------------


@register(
    "q08_set_ops",
    oracle="""
SELECT 'union' AS op, count(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  UNION SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
UNION ALL
SELECT 'intersect' AS op, count(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  INTERSECT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
  EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
""",
    doc="union/intersect/except distinct semantics",
    tags=("relational", "setops"),
)
def q08_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    bldg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    def tagged_count(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    parts = [
        tagged_count(rich.union(bldg).distinct(), "union"),
        tagged_count(rich.intersect(bldg), "intersect"),
        tagged_count(rich.subtract(bldg), "except"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# q09 — anti join: customers with no orders, per nation.
# --------------------------------------------------------------------------


@register(
    "q09_customers_without_orders",
    oracle="""
SELECT c_nationkey, count(*) AS n_inactive
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
""",
    doc="NOT EXISTS → left-anti join, grouped",
    tags=("relational", "join"),
)
def q09_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_inactive"))
    )


# --------------------------------------------------------------------------
# q10 — rollup (grouping sets).
# --------------------------------------------------------------------------


@register(
    "q10_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="hierarchical rollup aggregate (subtotals + grand total)",
    tags=("relational", "aggregate"),
)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# q11 — scalar string/math functions (projection-only; prune to 4 columns).
# --------------------------------------------------------------------------


@register(
    "q11_scalar_functions",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_uc,
       substr(p_name, 1, 8) AS name_pfx,
       length(p_name) AS name_len,
       concat(p_brand, ':', p_type) AS brand_type,
       p_size % 5 AS size_mod,
       abs(p_size - 25) AS size_dist,
       CAST(CAST(p_retailprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE) AS marked_up
FROM part
""",
    doc="scalar string/math projection (upper/substr/length/concat/mod/abs)",
    tags=("relational", "scalar"),
)
def q11_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 8).alias("name_pfx"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        (F.col("p_size") % 5).alias("size_mod"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (dec("p_retailprice", 12, 2) * F.lit(1.1).cast("decimal(3,1)"))
        .cast("double")
        .alias("marked_up"),
    )


# --------------------------------------------------------------------------
# q12 — date functions + conditional aggregation (hand pivot).
# --------------------------------------------------------------------------


@register(
    "q12_orders_by_year",
    oracle="""
SELECT CAST(extract(year FROM o_orderdate) AS INT) AS order_year,
       CAST(extract(quarter FROM o_orderdate) AS INT) AS order_quarter,
       count(*) AS n_orders,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
       CAST(sum(CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                     THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS DOUBLE) AS urgent_value
FROM orders
GROUP BY 1, 2
""",
    doc="date extraction + CASE pivot aggregation",
    tags=("relational", "scalar"),
)
def q12_orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").startswith("1-") | F.col(
        "o_orderpriority"
    ).startswith("2-")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            F.sum(F.when(urgent, dec("o_totalprice", 18, 6)))
            .cast("double")
            .alias("urgent_value"),
        )
    )


# --------------------------------------------------------------------------
# q13 — correlated subquery (orders above their customer's average).
# --------------------------------------------------------------------------


@register(
    "q13_above_avg_orders",
    oracle="""
WITH cust_avg AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderstatus, count(*) AS n_above,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS value_above
FROM orders o JOIN cust_avg a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > a.avg_price
GROUP BY o.o_orderstatus
""",
    doc="correlated-subquery shape: per-key average joined back (decorrelated)",
    tags=("relational", "subquery"),
)
def q13_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust_avg = orders.groupBy("o_custkey").agg(
        (F.sum(dec("o_totalprice", 18, 6)).cast("double") / F.count("*")).alias(
            "avg_price"
        )
    )
    return (
        orders.join(cust_avg, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_above"),
            F.sum(dec("o_totalprice", 18, 6)).cast("double").alias("value_above"),
        )
    )


# --------------------------------------------------------------------------
# q14 — JSON extraction over the events props payload.
# --------------------------------------------------------------------------


@register(
    "q14_json_events",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
    doc="JSON field extraction (get_json_object) + grouped aggregates",
    tags=("relational", "json"),
)
def q14_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.countDistinct("user_id").alias("n_users"),
        money_sum("value", "sum_value"),
    )


# --------------------------------------------------------------------------
# q19 — top-k per group via the operator (part sizes per brand).
# --------------------------------------------------------------------------


@register(
    "q19_topk_parts_per_brand",
    oracle="""
SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rnk
  FROM part) WHERE rnk <= 5
""",
    doc="top_k_per_group operator: priciest 5 parts per brand",
    tags=("relational", "topk"),
)
def q19_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return top_k_per_group(
        part.select("p_brand", "p_partkey", "p_retailprice"),
        ["p_brand"],
        [F.col("p_retailprice").desc(), F.col("p_partkey").asc()],
        k=5,
        rank_col="rnk",
    )


# --------------------------------------------------------------------------
# q35 — cube: multi-dimensional aggregate with grouping-id (super-aggregate
# rows for every dimension subset), the OLAP twin of q10's rollup.
# --------------------------------------------------------------------------


@register(
    "q35_cube_order_stats",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
         AS gid,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over (status, priority) with grouping-id + per-cell aggregates",
    tags=("relational", "aggregate"),
)
def q35_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            ).cast("bigint").alias("gid"),
            F.count("*").alias("n"),
            money_sum("o_totalprice", "total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


# --------------------------------------------------------------------------
# q36 — deterministic hash sampling: engine-portable Bernoulli sample via
# md5(key) mod 100 < rate. Unlike TABLESAMPLE this is reproducible across
# engines, partitionings and runs — the correct way to sample a 100 TB
# corpus for eyeballing/holdout without a nondeterministic RNG.
# --------------------------------------------------------------------------


@register(
    "q36_hash_sample",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS total
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
      % 100 < 5
""",
    doc="deterministic 5% Bernoulli sample by md5(key) mod 100 (reproducible "
    "across engines/partitionings, unlike TABLESAMPLE)",
    tags=("relational", "sampling"),
)
def q36_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    o = table(spark, sf_dir, "orders")
    return o.filter(
        md5_u60(F.col("o_orderkey").cast("string")) % 100 < 5
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# q37 — approx_count_distinct (HyperLogLog++): the sketch path for distinct
# counts at 100 TB (exact distinct = full shuffle of all keys; HLL = fixed
# 2^p registers per group, merged map-side). Sketch values are
# engine-specific, so this entry is rows-only checked by design; the exact
# twin q14 (count(DISTINCT user_id)) covers value correctness.
# --------------------------------------------------------------------------


@register(
    "q37_approx_distinct",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS within_5pct
FROM events
GROUP BY event_type
""",
    doc="approx_count_distinct(HLL++, rsd=1%) users per event_type, "
    "oracle-checked via an error bound: the sketch estimate itself is "
    "engine-specific (HLL registers aren't bit-portable), so the query emits "
    "the exact count plus a within_5pct boolean and the oracle asserts the "
    "bound holds — a value-level gate on the sketch's accuracy contract",
    tags=("relational", "aggregate", "sketch"),
)
def q37_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.01)
                - F.countDistinct("user_id")
            )
            <= F.countDistinct("user_id") * F.lit(0.05)
        ).alias("within_5pct"),
    )


# --------------------------------------------------------------------------
# q39 — pivot: long→wide reshape (one column per order status) with
# conditional aggregation as the engine-portable SQL twin.
# --------------------------------------------------------------------------


@register(
    "q39_pivot_status",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS total_open
FROM orders
GROUP BY o_orderpriority
""",
    doc="pivot (long->wide): per-priority counts by order status + pivoted "
    "money sum",
    tags=("relational", "pivot"),
)
def q39_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),  # count("*") is invalid inside pivot
            F.sum(dec("o_totalprice", 18, 2)).cast("double").alias("total"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.col("O_n").alias("n_open"),
        F.col("F_n").alias("n_filled"),
        F.col("P_n").alias("n_partial"),
        F.col("O_total").alias("total_open"),
    )


# --------------------------------------------------------------------------
# q40 — exact percentiles by distributed rank selection. `F.percentile`
# buffers every value of a group in ONE aggregation buffer; with a
# 3-value group key (l_returnflag) that is a third of the corpus on one
# executor — the q113 scale-killer class (queries/events.py q113 notes).
# group_quantiles_exact computes quantile_cont-identical values with two
# passes + a range shuffle and bounded window cells instead.
# --------------------------------------------------------------------------


@register(
    "q40_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)  AS p50,
       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS p95,
       quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99) AS p99,
       CAST(max(CAST(l_extendedprice AS DOUBLE)) AS DOUBLE) AS mx
FROM lineitem
GROUP BY l_returnflag
""",
    doc="exact interpolated percentiles (p50/p95/p99) per return flag via "
    "distributed rank selection (operators/quantiles.py) — no per-group "
    "value buffer, scale-safe for low-cardinality group keys",
    tags=("relational", "aggregate", "scale"),
)
def q40_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    pct = group_quantiles_exact(
        li, "l_returnflag", "price", {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    )
    mx = li.groupBy("l_returnflag").agg(F.max("price").alias("mx"))
    return pct.join(mx, "l_returnflag")


# --------------------------------------------------------------------------
# q50 — analytic window functions beyond ranking: lag/lead navigation within
# a customer's order history, ntile quartiles and percent_rank within the
# order-priority class. Every window carries a key tiebreak so the order is
# total (deterministic at any parallelism); no global single-partition
# window anywhere — all windows are keyed, so the sort is per-group.
# --------------------------------------------------------------------------


@register(
    "q50_window_analytics",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(prev_total AS DOUBLE) AS prev_total,
       CAST(next_total AS DOUBLE) AS next_total,
       CAST(quartile AS INT) AS quartile,
       pr
FROM (
  SELECT o_orderkey, o_custkey,
         lag(o_totalprice)  OVER wc AS prev_total,
         lead(o_totalprice) OVER wc AS next_total,
         ntile(4)           OVER wp AS quartile,
         percent_rank()     OVER wp AS pr
  FROM orders
  WINDOW wc AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
         wp AS (PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey ASC)
)
""",
    doc="analytic windows: lag/lead over each customer's order history, "
    "ntile(4) + percent_rank within the priority class (all keyed windows "
    "with total-order tiebreaks)",
    tags=("relational", "window"),
)
def q50_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wp = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(wc).cast("double").alias("prev_total"),
        F.lead("o_totalprice").over(wc).cast("double").alias("next_total"),
        F.ntile(4).over(wp).cast("int").alias("quartile"),
        F.percent_rank().over(wp).alias("pr"),
    )


# --------------------------------------------------------------------------
# q51 — GROUPING SETS through the SQL-TEXT interface: the engine's queries
# are DataFrame-built elsewhere; this entry goes through spark.sql() over a
# registered view to pin down (a) arbitrary grouping-set aggregates (rollup
# q10 and cube q35 are the special cases) and (b) the SQL text front end
# itself. GROUPING() disambiguates "NULL because subtotal" from data NULLs.
# --------------------------------------------------------------------------


@register(
    "q51_grouping_sets_sql",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority), ())
""",
    doc="GROUPING SETS aggregate via the spark.sql text interface "
    "(status / priority / both / grand total in one pass), GROUPING() "
    "flags distinguish subtotal NULLs from data NULLs",
    tags=("relational", "agg", "sql"),
)
def q51_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
    """)


# --------------------------------------------------------------------------
# q53 — semi join (EXISTS): customers having at least one high-priority
# order. Completes the join-type surface: inner/broadcast (q03), anti
# (q09), scalar subquery (q13), range (q45), as-of (q18), stream-stream
# (s06). A semi join shuffles only the key column of the probe side and
# short-circuits on first match — never duplicates the left side.
# --------------------------------------------------------------------------


@register(
    "q53_customers_with_urgent_orders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
""",
    doc="EXISTS semi join: customers with at least one urgent order "
    "(left_semi — probe side deduplicated by the join itself, no fanout)",
    tags=("relational", "join"),
)
def q53_customers_with_urgent_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


# --------------------------------------------------------------------------
# q62 — salted skew join. 80% of lineitems are rewritten onto ONE supplier
# key (the planted hot key); a plain shuffle join would pile those rows on
# a single reducer. salted_join splits the hot key across 8 sub-keys and
# replicates the supplier side 8x. The oracle is the UNSALTED join — the
# whole point is that salting is a pure physical rewrite with identical
# results.
# --------------------------------------------------------------------------


@register(
    "q62_salted_skew_join",
    oracle="""
WITH l AS (
  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 1 ELSE l_suppkey END AS skew_key,
         l_extendedprice, l_discount
  FROM lineitem)
SELECT s.s_nationkey,
       count(*) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM l JOIN supplier s ON s.s_suppkey = l.skew_key
GROUP BY s.s_nationkey
""",
    doc="salted skew join: planted hot key (80% of rows) split across 8 "
    "md5-salted sub-keys, supplier side replicated 8x — oracle is the "
    "unsalted join, proving salting is result-invariant",
    tags=("relational", "join", "scale"),
)
def q62_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        salted_join,
    )

    li = table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 8, F.lit(1).cast("bigint"))
        .otherwise(F.col("l_suppkey"))
        .alias("s_suppkey"),
        F.concat_ws("-", "l_orderkey", "l_linenumber").alias("line_uid"),
        "l_extendedprice",
        "l_discount",
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        salted_join(li, sup, "s_suppkey", salt_id="line_uid", buckets=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue_expr()).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q63 — Z-order layout: Morton-interleave (customer, order-day) into one
# clustering key, tile it into 64 Z-range buckets, and surface each
# bucket's min-max box in BOTH dimensions — the statistics a parquet
# scan prunes on. The SQL twin is generated from the same bit-algebra
# spec (operators/layout.py:zvalue_sql), so the layout is checked
# bit-for-bit, not just shape-wise.
# --------------------------------------------------------------------------


def _q63_oracle() -> str:
    from cassandra_analytics_example_spark.operators.layout import zvalue_sql

    return f"""
WITH o AS (
  SELECT o_custkey,
         date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS day
  FROM orders),
m AS (SELECT max(o_custkey) AS mc, max(day) AS md FROM o),
s AS (
  SELECT CAST(floor(o_custkey * 1023 / mc) AS BIGINT) AS x,
         CAST(floor(day * 1023 / md) AS BIGINT) AS y,
         o_custkey, day
  FROM o, m),
z AS (SELECT o_custkey, day, {zvalue_sql(["x", "y"], 10)} >> 14 AS z_bucket
      FROM s)
SELECT z_bucket, count(*) AS n,
       min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
       CAST(min(day) AS BIGINT) AS min_day, CAST(max(day) AS BIGINT) AS max_day
FROM z GROUP BY z_bucket
"""


@register(
    "q63_zorder_layout",
    oracle=_q63_oracle(),
    doc="Z-order clustering: Morton-interleaved (custkey, order-day) tiled "
    "into 64 Z-range buckets with per-bucket min-max boxes in both "
    "dimensions — the write-time layout that lets one sort serve "
    "multi-column scan pruning",
    tags=("layout", "scale"),
)
def q63_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.layout import (
        rank_scale,
        zvalue,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("day"),
    )
    mx = o.agg(
        F.max("o_custkey").alias("mc"), F.max("day").alias("md")
    )
    scaled = o.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        "day",
        rank_scale("o_custkey", F.col("mc"), 10).alias("x"),
        rank_scale("day", F.col("md"), 10).alias("y"),
    )
    z = scaled.select(
        "o_custkey",
        "day",
        F.shiftright(zvalue(["x", "y"], 10), 14).alias("z_bucket"),
    )
    return z.groupBy("z_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_custkey").alias("min_cust"),
        F.max("o_custkey").alias("max_cust"),
        F.min("day").cast("bigint").alias("min_day"),
        F.max("day").cast("bigint").alias("max_day"),
    )


# --------------------------------------------------------------------------
# q70 — per-column data profile of orders: one multi-aggregate pass
# (partial-aggregated) emitting a row per column. The schema-discovery /
# data-quality report that gates a new 100 TB source onto the pipeline.
# --------------------------------------------------------------------------


@register(
    "q70_column_profile",
    oracle="""
SELECT 'o_custkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_value,
       CAST(max(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
""",
    doc="per-column profile (rows, NULLs, exact distinct, min/max) of three "
    "orders columns in ONE multi-aggregate pass, stringified min/max so a "
    "single schema serves every column type",
    tags=("profiling",),
)
def q70_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import (
        column_profile,
    )

    return column_profile(
        table(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_totalprice"],
    )


# --------------------------------------------------------------------------
# q72 — fixed-n per-stratum sample: exactly n rows per group (eval-set
# construction wants "200 examples per class", not a rate), chosen by
# md5 order so the pick is reproducible across engines, runs, and
# repartitionings, and stable marginally under corpus growth (a new row
# displaces at most one pick in its own stratum).
# --------------------------------------------------------------------------


@register(
    "q72_fixed_n_per_stratum",
    oracle="""
SELECT c_custkey, c_mktsegment, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT c_custkey, c_mktsegment,
         row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
                         AS BIGINT), c_custkey) AS rnk
  FROM customer) WHERE rnk <= 25
""",
    doc="exactly-25-per-segment deterministic sample: md5-ordered "
    "row_number per stratum — reproducible eval-set construction, one "
    "shuffle on the stratum key",
    tags=("sampling",),
)
def q72_fixed_n_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60
    from cassandra_analytics_example_spark.operators.relational import (
        top_k_per_group,
    )

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return top_k_per_group(
        cust,
        ["c_mktsegment"],
        [
            md5_u60(F.col("c_custkey").cast("string")).asc(),
            F.col("c_custkey").asc(),
        ],
        25,
    ).select(
        "c_custkey", "c_mktsegment", F.col("rnk").cast("bigint").alias("rnk")
    )


# --------------------------------------------------------------------------
# q79 — denormalization: each order with its lineitems as a
# DETERMINISTICALLY ORDERED nested payload — the relational→document
# transform feeding sequence packing / JSON ingestion. collect_list
# gives no ordering guarantee, so the lines aggregate as an array of
# structs keyed (line number, qty, flag) and get array_sort'ed — the
# fixture actually CONTAINS duplicate line numbers per order, so the
# sort key must be the full struct to be a total order. The packed payload surfaces as
# a pipe-joined string so the check is representation-exact.
# --------------------------------------------------------------------------


@register(
    "q79_order_denormalization",
    oracle="""
SELECT o.o_orderkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       string_agg(
         CAST(l.l_linenumber AS VARCHAR) || ':' ||
         CAST(CAST(l.l_quantity AS BIGINT) AS VARCHAR) || ':' ||
         l.l_returnflag,
         '|' ORDER BY l.l_linenumber, CAST(l.l_quantity AS BIGINT),
                      l.l_returnflag) AS lines_packed
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY o.o_orderkey
""",
    doc="relational→document denormalization: per order, lineitems packed "
    "as an ordered nested payload (array_sort over line-number-keyed "
    "structs — collect_list alone guarantees nothing) — the transform "
    "feeding JSON ingestion and sequence packing",
    tags=("relational", "nested"),
)
def q79_order_denormalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = table(spark, sf_dir, "lineitem")
    joined = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderkey",
        F.struct(
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.col("l_returnflag").alias("rf"),
        ).alias("line"),
    )
    agg = joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("line.qty").cast("bigint").alias("total_qty"),
        F.array_sort(F.collect_list("line")).alias("__lines"),
    )
    packed = F.array_join(
        F.transform(
            F.col("__lines"),
            lambda s: F.concat_ws(
                ":",
                s["ln"].cast("string"),
                s["qty"].cast("string"),
                s["rf"],
            ),
        ),
        "|",
    )
    return agg.select(
        "o_orderkey", "n_lines", "total_qty", packed.alias("lines_packed")
    )


# --------------------------------------------------------------------------
# q82 — fixed-width histogram of order totals: bin = floor(v / width),
# plus each bin's exact bounds — integer bin ids from floor division,
# engine-exact; the one-pass profile behind resource planning and
# outlier triage.
# --------------------------------------------------------------------------


@register(
    "q82_price_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
       CAST(floor(o_totalprice / 25000) * 25000 AS DOUBLE) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n,
       min(o_totalprice) AS v_min, max(o_totalprice) AS v_max
FROM orders
GROUP BY 1, 2
""",
    doc="fixed-width value histogram (25k bins over order totals): integer "
    "bin ids via floor division, per-bin exact bounds — single partial-"
    "aggregated pass",
    tags=("relational", "profiling"),
)
def q82_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / 25000).cast("bigint")
    return o.groupBy(
        b.alias("bin"), (b * 25000).cast("double").alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("o_totalprice").alias("v_min"),
        F.max("o_totalprice").alias("v_max"),
    )


# --------------------------------------------------------------------------
# q88 — constraint audit: dbt-style data-quality checks (FK orphans,
# uniqueness, range/null rules) as one unioned report. Each FK check is a
# broadcastable anti-join; the audit never collects the violating rows,
# only counts them.
# --------------------------------------------------------------------------


@register(
    "q88_constraint_audit",
    oracle="""
SELECT 'fk_lineitem_orders' AS check_name,
       CAST(count(*) AS BIGINT) AS n_violations
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IS NULL
UNION ALL
SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
UNION ALL
SELECT 'fk_customer_nation', CAST(count(*) AS BIGINT)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_nationkey IS NULL
UNION ALL
SELECT 'pk_orders_unique', CAST(count(*) AS BIGINT)
FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
UNION ALL
SELECT 'range_l_quantity_1_50', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
UNION ALL
SELECT 'positive_o_totalprice', CAST(count(*) AS BIGINT)
FROM orders WHERE o_totalprice <= 0
UNION ALL
SELECT 'nonnull_l_shipdate', CAST(count(*) AS BIGINT)
FROM lineitem WHERE l_shipdate IS NULL
""",
    doc="data-quality constraint audit: FK orphans (anti-joins, dims "
    "broadcast), PK uniqueness, range and null rules — one report row "
    "per check, violations counted distributed, never collected",
    tags=("relational", "quality"),
)
def q88_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import (
        constraint_audit,
    )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    return constraint_audit(
        {
            # key-only anti-joins; AQE broadcasts when the key set fits,
            # shuffles otherwise (orders/customer keys are NOT dim-sized
            # at 100 TB — only nation is force-broadcast)
            "fk_lineitem_orders": li.join(
                o.select("o_orderkey"),
                li["l_orderkey"] == o["o_orderkey"],
                "left_anti",
            ),
            "fk_orders_customer": o.join(
                c.select("c_custkey"),
                o["o_custkey"] == c["c_custkey"],
                "left_anti",
            ),
            "fk_customer_nation": c.join(
                F.broadcast(n.select("n_nationkey")),
                c["c_nationkey"] == n["n_nationkey"],
                "left_anti",
            ),
            "pk_orders_unique": dup_pk,
            "range_l_quantity_1_50": li.filter(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
            ),
            "positive_o_totalprice": o.filter(F.col("o_totalprice") <= 0),
            "nonnull_l_shipdate": li.filter(F.col("l_shipdate").isNull()),
        }
    )


# --------------------------------------------------------------------------
# q90 — portable bloom-filter semi-join pruning: fixed-size md5-derived
# bit set built from the member side, probe side pre-filtered before the
# exact join. The filter is engine-portable (md5 positions), so the
# oracle reproduces the EXACT false-positive set, not just a bound.
# --------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 8192, 3


@register(
    "q90_bloom_semi_join",
    oracle=f"""
WITH members AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
),
probe AS (SELECT DISTINCT c_custkey AS k FROM customer),
bits AS (
  SELECT DISTINCT unnest(
    [(CAST(('0x' || substr(md5('0' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_BLOOM_M}),
     (CAST(('0x' || substr(md5('1' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_BLOOM_M}),
     (CAST(('0x' || substr(md5('2' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_BLOOM_M})]
  ) AS bit FROM members
),
ppos AS (
  SELECT k, unnest(
    [(CAST(('0x' || substr(md5('0' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_BLOOM_M}),
     (CAST(('0x' || substr(md5('1' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_BLOOM_M}),
     (CAST(('0x' || substr(md5('2' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % {_BLOOM_M})]
  ) AS bit FROM probe
),
pass AS (
  SELECT k FROM ppos JOIN bits USING (bit) GROUP BY k
  HAVING count(*) = {_BLOOM_K}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM probe)   AS n_probe,
       (SELECT CAST(count(*) AS BIGINT) FROM probe p
         WHERE EXISTS (SELECT 1 FROM members m WHERE m.k = p.k)) AS n_members,
       (SELECT CAST(count(*) AS BIGINT) FROM pass)    AS n_bloom_pass,
       (SELECT CAST(count(*) AS BIGINT) FROM pass p
         WHERE NOT EXISTS (SELECT 1 FROM members m WHERE m.k = p.k))
                                                      AS n_false_positives
""",
    doc="portable bloom-filter semi-join: md5-position bit set (m=8192, "
    "k=3) built from urgent-order custkeys, customers probed through it "
    "before the exact semi-join — fixed-size broadcastable filter, zero "
    "false negatives, deterministic false-positive set the oracle "
    "reproduces bit-for-bit",
    tags=("relational", "join", "scale"),
)
def q90_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    members = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probe = c.select(F.col("c_custkey").alias("k")).distinct()
    bits = bloom_build(members, "k", m=_BLOOM_M, k=_BLOOM_K)
    probed = bloom_probe(probe, "k", bits, m=_BLOOM_M, k=_BLOOM_K)
    is_member = probe.join(members, "k", "left_semi")
    passed = probed.filter(F.col("bloom_pass")).select("k")
    fp = passed.join(members, "k", "left_anti")
    n_probe = probe.agg(F.count(F.lit(1)).cast("bigint").alias("n_probe"))
    n_members = is_member.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    n_pass = passed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bloom_pass")
    )
    n_fp = fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_false_positives")
    )
    return (
        n_probe.crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_pass))
        .crossJoin(F.broadcast(n_fp))
    )


# --------------------------------------------------------------------------
# q91 — unpivot (melt): wide single-row profile → long (stat, value)
# form, the reshaping surface (DataFrame.unpivot) a metrics pipeline
# needs to land engine-agnostic stat tables.
# --------------------------------------------------------------------------


@register(
    "q91_unpivot_stats",
    oracle="""
WITH w AS (
  SELECT CAST(min(l_quantity) AS DOUBLE)       AS min_qty,
         CAST(max(l_quantity) AS DOUBLE)       AS max_qty,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
         CAST(min(l_extendedprice) AS DOUBLE)  AS min_price,
         CAST(max(l_extendedprice) AS DOUBLE)  AS max_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                                               AS avg_price,
         CAST(min(l_discount) AS DOUBLE)       AS min_disc,
         CAST(max(l_discount) AS DOUBLE)       AS max_disc
  FROM lineitem
)
SELECT stat, value FROM w
UNPIVOT (value FOR stat IN (min_qty, max_qty, avg_qty, min_price,
                            max_price, avg_price, min_disc, max_disc))
""",
    doc="unpivot/melt: one wide profile row reshaped to (stat, value) "
    "long form via DataFrame.unpivot — avg as exact-sum single division",
    tags=("relational", "reshape"),
)
def q91_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        (
            F.sum(F.col("l_quantity").cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        (
            F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))
        ).alias("avg_price"),
        F.min("l_discount").cast("double").alias("min_disc"),
        F.max("l_discount").cast("double").alias("max_disc"),
    )
    return wide.unpivot(
        [],
        [
            "min_qty",
            "max_qty",
            "avg_qty",
            "min_price",
            "max_price",
            "avg_price",
            "min_disc",
            "max_disc",
        ],
        "stat",
        "value",
    )


# --------------------------------------------------------------------------
# q92 — schema-evolution read: two parquet snapshots written with
# different schemas (a column added between versions) read back as ONE
# table via mergeSchema; the missing column null-fills. The source-layer
# capability every long-lived 100 TB table eventually needs.
# --------------------------------------------------------------------------


@register(
    "q92_schema_evolution_read",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
         AS n_evolved,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
         AS sum_chars
FROM documents
GROUP BY lang
""",
    doc="schema evolution: v1 snapshot (doc_id, lang) + v2 snapshot with "
    "an added n_chars column, read as one table with mergeSchema=true — "
    "v1 rows null-fill the evolved column; aggregate proves the merged "
    "read sees both vintages",
    tags=("relational", "source"),
)
def q92_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = table(spark, sf_dir, "documents")
    root = temp_root("schema-evo-")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(f"{root}/v=1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(f"{root}/v=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/v=1", f"{root}/v=2"
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count("n_chars").cast("bigint").alias("n_evolved"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


# --------------------------------------------------------------------------
# q99 — approx-quantile accuracy gate (the q37 discipline for quantile
# sketches): the sketch value itself is engine-native and can't hash-match
# another engine, so the query emits the exact percentile alongside the
# sketch's RANK error, bounded — the oracle recomputes the exact side and
# checks the bound booleans.
# --------------------------------------------------------------------------

_Q99_PS = (0.25, 0.5, 0.75, 0.95)
_Q99_EPS = 0.005  # rank-error bound; approx_percentile default accuracy 1e4


@register(
    "q99_approx_quantile_bound",
    oracle=f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
SELECT p, exact_value, within_rank_bound FROM (
  SELECT CAST(0.25 AS DOUBLE) AS p,
         quantile_cont(o_totalprice, 0.25) AS exact_value,
         TRUE AS within_rank_bound FROM orders
  UNION ALL
  SELECT CAST(0.5 AS DOUBLE), quantile_cont(o_totalprice, 0.5), TRUE FROM orders
  UNION ALL
  SELECT CAST(0.75 AS DOUBLE), quantile_cont(o_totalprice, 0.75), TRUE FROM orders
  UNION ALL
  SELECT CAST(0.95 AS DOUBLE), quantile_cont(o_totalprice, 0.95), TRUE FROM orders
)
""",
    doc="approx_percentile accuracy gate: exact quantile_cont values by "
    "distributed rank selection (operators/quantiles.py — no global "
    "value buffer) plus a rank-error bound check of the engine-native "
    "sketch — |rank(approx)/n - p| <= 0.005 must hold, all probed ps "
    "folded into ONE conditional-aggregate pass; the sketch value stays "
    "engine-side, the CONTRACT is oracle-checked",
    tags=("relational", "sketch", "scale"),
)
def q99_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v")
    )
    # Job 1: corpus size + the approx sketch values, one aggregate.
    head = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"approx_percentile(v, {p})").alias(f"a{i}")
            for i, p in enumerate(_Q99_PS)
        ],
    ).first()
    n = head["n"]
    # Job 2: rank of EVERY probed sketch value in one conditional
    # aggregate (was one filter+count job per p).
    ranks = o.agg(
        *[
            F.sum(
                F.when(F.col("v") <= float(head[f"a{i}"]), 1).otherwise(0)
            ).alias(f"r{i}")
            for i in range(len(_Q99_PS))
        ]
    ).first()
    # Exact side: rank selection on a constant group — bounded window
    # cells, never the whole column in one aggregation buffer.
    exact = group_quantiles_exact(
        o.withColumn("__g", F.lit(1)),
        "__g",
        "v",
        {f"e{i}": p for i, p in enumerate(_Q99_PS)},
    ).first()
    return spark.createDataFrame(
        [
            (
                p,
                float(exact[f"e{i}"]),
                abs(ranks[f"r{i}"] / n - p) <= _Q99_EPS,
            )
            for i, p in enumerate(_Q99_PS)
        ],
        "p double, exact_value double, within_rank_bound boolean",
    )


# --------------------------------------------------------------------------
# q100 — incremental aggregate maintenance: merging a base aggregate with
# a delta batch's partial aggregate must equal the full recompute — the
# property that lets a 100 TB dashboard update by scanning only the new
# partition. Exact-DECIMAL sums make the merge bit-identical.
# --------------------------------------------------------------------------

_Q100_SPLIT = "2024-01-16 00:00:00"


@register(
    "q100_incremental_agg_merge",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY event_type
""",
    doc="incremental view maintenance: base aggregate (ts < split) merged "
    "with the delta batch's partial aggregate (ts >= split) via "
    "mergeable stats (count/decimal-sum/min/max) — equals the full "
    "recompute exactly; only the delta partition is scanned on refresh",
    tags=("events", "aggregate", "scale"),
)
def q100_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    split = F.lit(_Q100_SPLIT).cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    base = partial(ev.filter(F.col("ts") < split))
    delta = partial(ev.filter(F.col("ts") >= split))
    merged = (
        base.select(
            "event_type",
            "n",
            "sum_dec",
            "min_value",
            "max_value",
        )
        .unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_dec").alias("sum_dec"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return merged.select(
        "event_type",
        "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


# --------------------------------------------------------------------------
# q103 — versioned-table time travel: three commits (append evens, append
# odds, overwrite with en-only), then reads AS OF v2 and AS OF v3 from
# the transaction log — the Delta/Iceberg manifest-log pattern at
# file-list scale (sources/versioned.py). Old versions stay readable
# because commits delist files, never delete them.
# --------------------------------------------------------------------------


@register(
    "q103_time_travel",
    oracle="""
SELECT 2 AS version, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
UNION ALL
SELECT 3, lang, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
FROM documents WHERE lang = 'en' GROUP BY lang
""",
    doc="time travel over a transaction-logged table: v1 append (even "
    "ids) + v2 append (odd ids) + v3 overwrite (en only); reads AS OF "
    "v2 and v3 replay the commit log's file lists — versioned reads "
    "cost a current read plus KBs of log (sources/versioned.py)",
    tags=("relational", "source", "versioning"),
)
def q103_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:

    from cassandra_analytics_example_spark.sources import versioned as V

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = temp_root("timetravel-")
    V.append(spark, root, docs.filter(F.col("doc_id") % 2 == 0))
    V.append(spark, root, docs.filter(F.col("doc_id") % 2 == 1))
    V.overwrite(spark, root, docs.filter(F.col("lang") == "en"))

    def agg(df, version):
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        ).select(
            F.lit(version).cast("int").alias("version"),
            "lang",
            "n_docs",
            "sum_chars",
        )

    return agg(V.read_version(spark, root, 2), 2).unionByName(
        agg(V.read_version(spark, root, 3), 3)
    )


@register(
    "q125_item_affinity",
    oracle="""
WITH base AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS cooc
  FROM base a JOIN base b ON a.g = b.g AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
cnts AS (SELECT item, count(*) AS cnt FROM base GROUP BY 1)
SELECT p.item_a, p.item_b, CAST(p.cooc AS BIGINT) AS cooc,
       CAST(ca.cnt AS BIGINT) AS cnt_a, CAST(cb.cnt AS BIGINT) AS cnt_b,
       CAST(p.cooc AS DOUBLE) / (ca.cnt + cb.cnt - p.cooc) AS jaccard
FROM pairs p
JOIN cnts ca ON p.item_a = ca.item
JOIN cnts cb ON p.item_b = cb.item
""",
    doc="item-item co-occurrence affinity (basket analysis / co-purchase "
    "CF): parts sharing an order, Jaccard over order sets; pair generation "
    "is a self-equi-join on the ORDER key (per-group quadratic, bounded by "
    "basket size, never a cross product) with an optional deterministic "
    "per-group cap (operators/indexing.py:item_affinity)",
    tags=("relational", "join", "affinity"),
)
def q125_item_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.indexing import (
        item_affinity,
    )

    li = table(spark, sf_dir, "lineitem")
    return item_affinity(li, "l_orderkey", "l_partkey", min_cooc=2)


# --------------------------------------------------------------------------
# q143 — exact-integer PageRank over the co-purchase item graph: parts are
# nodes, a symmetric edge links two parts sharing an order, 5 damped power
# iterations in bigint arithmetic (operators/graph.py), top-100 by final
# rank.  Crawl-frontier / importance scoring for curation pipelines, in a
# form where the oracle hash can match EXACTLY (integer mass, no ulps).
# --------------------------------------------------------------------------

_PR_ITERS = 5
_PR_QUANTUM = 1_000_000_000_000
_PR_TELEPORT = _PR_QUANTUM * 15 // 100


def _pagerank_oracle(iterations: int) -> str:
    step = """
r{t} AS (
  SELECT n.node, CAST({teleport} + coalesce(s.c, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum((p.r * 85) // (100 * d.outdeg)) AS BIGINT) AS c
    FROM edges e
    JOIN r{p} p ON p.node = e.src
    JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
    chain = ",".join(
        step.format(t=t, p=t - 1, teleport=_PR_TELEPORT)
        for t in range(1, iterations + 1)
    )
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
),
deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT node FROM deg),
r0 AS (SELECT node, CAST({_PR_QUANTUM} AS BIGINT) AS r FROM nodes),
{chain}
SELECT node AS part_key, r AS score,
       CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT) AS rnk
FROM r{iterations}
QUALIFY rnk <= 100
"""


@register(
    "q143_pagerank_items",
    oracle=_pagerank_oracle(_PR_ITERS),
    doc="exact-integer PageRank (5 damped power iterations, bigint mass "
    "quantum 1e12, teleport 15%) over the symmetric co-purchase part "
    "graph; per iteration the edge table sees exactly ONE shuffle join "
    "(per-node send quota is precomputed on the node-sized table) plus "
    "one dst-keyed aggregate — the canonical Pregel-on-DataFrames step; "
    "integer sums make the result partitioning- and engine-independent",
    tags=("relational", "graph", "iterative"),
)
def q143_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        pagerank_integer,
    )

    # Per-order basket expansion instead of an items self-join: one
    # shuffle on l_orderkey builds the part set per order (TPC-H orders
    # hold <= 7 lineitems, so the in-group pair expansion is bounded by a
    # small constant — no skew hazard), then pairs explode group-locally.
    # Result-identical to the oracle's self-join CTE (same distinct
    # (src, dst) set; measured 25% faster at sf0.1, and one fewer
    # edge-sized shuffle at any scale). A corpus where one basket is
    # unbounded would need the q125-style basket cap; order baskets are
    # structurally bounded by the order's line count.
    baskets = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    edges = (
        baskets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    ranks = pagerank_integer(edges, iterations=_PR_ITERS)
    return (
        ranks.select(
            F.col("node").alias("part_key"), F.col("r").alias("score")
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("part_key")))
            .cast("bigint"),
        )
        .where(F.col("rnk") <= 100)
    )


# --------------------------------------------------------------------------
# q147 — per-node triangle counts over the co-purchase graph via the
# degree-ordered orientation (operators/graph.py): the local-clustering /
# community-density signal over the same graph q143 ranks.  All joins are
# equi (wedge pivot, closure edge key); the orientation bounds wedge work
# by sum(outdeg^2) ~ m^1.5 even under hub skew.
# --------------------------------------------------------------------------


@register(
    "q147_triangle_counts",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
  GROUP BY node
),
rk AS (SELECT node, d * 1000000000 + node AS rk FROM deg),
o AS (
  SELECT CASE WHEN ra.rk < rb.rk THEN u.a ELSE u.b END AS u,
         CASE WHEN ra.rk < rb.rk THEN u.b ELSE u.a END AS v
  FROM und u
  JOIN rk ra ON ra.node = u.a
  JOIN rk rb ON rb.node = u.b
),
w AS (
  SELECT o1.u, o1.v AS v1, o2.v AS v2
  FROM o o1 JOIN o o2 ON o1.u = o2.u
  WHERE o1.v < o2.v
),
t AS (
  SELECT w.u, w.v1, w.v2
  FROM w JOIN und ON und.a = w.v1 AND und.b = w.v2
),
m AS (
  SELECT u AS node FROM t
  UNION ALL SELECT v1 FROM t
  UNION ALL SELECT v2 FROM t
)
SELECT node AS part_key, CAST(count(*) AS BIGINT) AS tri_count
FROM m GROUP BY node
""",
    doc="per-node triangle participation over the co-purchase part graph "
    "via degree-ordered orientation: each node's out-adjacency is "
    "O(sqrt(m)), so the wedge self-join is bounded by m^1.5 under any "
    "hub skew; wedge and closure are equi-joins, counts are exact "
    "integers — the clustering-density twin of q143's importance ranks",
    tags=("relational", "graph", "join"),
)
def q147_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        triangle_participation,
    )

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    return triangle_participation(edges).select(
        F.col("node").alias("part_key"), "tri_count"
    )


# --------------------------------------------------------------------------
# q149 — local clustering coefficient per node, exact integer permille:
# cc(v) = 2 * tri(v) / (deg(v) * (deg(v) - 1)).  Composes q147's
# degree-ordered triangle counts with the degree table; nodes with
# deg < 2 report 0 (the guard the ANSI session demands instead of a
# divide-by-zero).  The "how cliquish is this node's neighborhood"
# signal that separates organic co-purchase hubs from catalog bundles.
# --------------------------------------------------------------------------


@register(
    "q149_clustering_coefficient",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
  GROUP BY node
),
rk AS (SELECT node, d * 1000000000 + node AS rk FROM deg),
o AS (
  SELECT CASE WHEN ra.rk < rb.rk THEN u.a ELSE u.b END AS u,
         CASE WHEN ra.rk < rb.rk THEN u.b ELSE u.a END AS v
  FROM und u
  JOIN rk ra ON ra.node = u.a
  JOIN rk rb ON rb.node = u.b
),
w AS (
  SELECT o1.u, o1.v AS v1, o2.v AS v2
  FROM o o1 JOIN o o2 ON o1.u = o2.u
  WHERE o1.v < o2.v
),
t AS (
  SELECT w.u, w.v1, w.v2
  FROM w JOIN und ON und.a = w.v1 AND und.b = w.v2
),
m AS (
  SELECT u AS node FROM t
  UNION ALL SELECT v1 FROM t
  UNION ALL SELECT v2 FROM t
),
tri AS (SELECT node, count(*) AS tc FROM m GROUP BY node)
SELECT deg.node AS part_key,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(coalesce(tri.tc, 0) AS BIGINT) AS tri_count,
       CASE WHEN deg.d >= 2
            THEN CAST(coalesce(tri.tc, 0) * 2000 // (deg.d * (deg.d - 1))
                      AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS cc_permille
FROM deg LEFT JOIN tri ON tri.node = deg.node
""",
    doc="local clustering coefficient per co-purchase node in exact "
    "integer permille (2000*tri div deg*(deg-1), deg<2 guarded to 0): "
    "composes the degree-ordered triangle counts (q147 machinery) with "
    "the degree table via one node-keyed left join — cliquishness vs "
    "hubness, all integers",
    tags=("relational", "graph", "profiling"),
)
def q149_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        triangle_participation,
    )

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    tri = triangle_participation(und)
    return (
        deg.join(tri.withColumnRenamed("tri_count", "tc"), "node", "left")
        .select(
            F.col("node").alias("part_key"),
            "degree",
            F.coalesce("tc", F.lit(0)).cast("bigint").alias("tri_count"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "coalesce(tc, 0) * 2000 div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("cc_permille"),
        )
    )


# --------------------------------------------------------------------------
# q150 — functional-dependency discovery: test candidate A -> B rules on
# orders and lineitem by comparing count(distinct A) with
# count(distinct (A, B)) — the schema-profiling pass that tells a 100 TB
# pipeline which columns are REAL keys (safe to dedup/join on) and which
# only look unique at sample scale.  Mixed verdicts by construction: the
# PK rules hold, the plausible-looking ones are quantified violations.
# --------------------------------------------------------------------------

_FD_CANDIDATES = {
    "orders": [
        ("o_orderkey", "o_custkey"),
        ("o_orderkey", "o_totalprice"),
        ("o_custkey", "o_orderstatus"),
        ("o_orderdate", "o_orderpriority"),
    ],
    "lineitem": [
        ("l_orderkey", "l_returnflag"),
        ("l_partkey", "l_suppkey"),
    ],
}


def _fd_oracle() -> str:
    parts = []
    for tbl, cands in _FD_CANDIDATES.items():
        for a, b in cands:
            parts.append(f"""
SELECT '{tbl}' AS tbl, '{a}' AS lhs, '{b}' AS rhs,
       CAST((SELECT count(DISTINCT {a}) FROM {tbl}) AS BIGINT) AS n_lhs,
       CAST((SELECT count(*) FROM (SELECT DISTINCT {a}, {b} FROM {tbl}))
            AS BIGINT) AS n_pairs""")
    inner = " UNION ALL ".join(parts)
    return f"""
SELECT tbl, lhs, rhs, n_lhs, n_pairs,
       n_pairs = n_lhs AS holds,
       CAST(n_pairs - n_lhs AS BIGINT) AS extra_combos
FROM ({inner})
"""


@register(
    "q150_fd_discovery",
    oracle=_fd_oracle(),
    doc="functional-dependency discovery over candidate A -> B rules on "
    "orders/lineitem: FD holds iff distinct(A) == distinct(A,B), gap = "
    "extra (A,B) combos in exact integers; each candidate is one "
    "two-distinct-aggregate pass (expand shares the scan), unioned into "
    "the audit report (operators/profiling.py:functional_dependency_audit)",
    tags=("relational", "profiling", "schema"),
)
def q150_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import (
        functional_dependency_audit,
    )

    out = None
    for tbl, cands in _FD_CANDIDATES.items():
        part = functional_dependency_audit(
            table(spark, sf_dir, tbl), cands
        ).select(F.lit(tbl).alias("tbl"), "*")
        out = part if out is None else out.unionByName(part)
    return out


# --------------------------------------------------------------------------
# q164 — k-anonymity audit with one-step hierarchical generalization: a
# record's quasi-identifier is (mktsegment, nation); groups smaller than k
# re-aggregate one rung up the geography hierarchy (nation -> region) and
# report at that level.  The privacy gate a training-data release runs
# before shipping: group sizes are exact, the hierarchy climb is a
# broadcast join, and the corpus shuffles once per level on a
# vocabulary-sized key.
# --------------------------------------------------------------------------


@register(
    "q164_k_anonymity",
    oracle="""
WITH g1 AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nk, count(*) AS n
  FROM customer GROUP BY 1, 2
),
ok AS (
  SELECT 'nation' AS level, g1.seg, n.n_name AS geo, g1.n
  FROM g1 JOIN nation n ON n.n_nationkey = g1.nk
  WHERE g1.n >= 10
),
risk AS (SELECT seg, nk FROM g1 WHERE n < 10),
g2 AS (
  SELECT 'region' AS level, r.seg,
         'region_' || CAST(n.n_regionkey AS VARCHAR) AS geo,
         CAST(count(*) AS BIGINT) AS n
  FROM customer c
  JOIN risk r ON r.seg = c.c_mktsegment AND r.nk = c.c_nationkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2, 3
)
SELECT level, seg, geo, CAST(n AS BIGINT) AS n,
       n >= 10 AS meets_k
FROM (SELECT * FROM ok UNION ALL SELECT * FROM g2)
""",
    doc="k-anonymity (k=10) over the (mktsegment, nation) quasi-identifier "
    "with one-step generalization: under-k groups climb nation -> region "
    "and re-aggregate; exact group sizes, broadcast hierarchy joins, one "
    "vocabulary-keyed shuffle per level — the pre-release privacy gate",
    tags=("relational", "governance", "privacy"),
)
def q164_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 10
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nk"),
    )
    nat = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"),
        "n_name",
        F.col("n_regionkey").alias("rk"),
    )
    g1 = cust.groupBy("seg", "nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    ok = (
        g1.where(F.col("n") >= k)
        .join(F.broadcast(nat), "nk")
        .select(
            F.lit("nation").alias("level"),
            "seg",
            F.col("n_name").alias("geo"),
            "n",
        )
    )
    risk = g1.where(F.col("n") < k).select("seg", "nk")
    g2 = (
        cust.join(F.broadcast(risk), ["seg", "nk"])
        .join(F.broadcast(nat), "nk")
        .groupBy(
            "seg", F.concat(F.lit("region_"), F.col("rk")).alias("geo")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("region").alias("level"), "seg", "geo", "n")
    )
    return ok.unionByName(g2).select(
        "level", "seg", "geo", "n", (F.col("n") >= k).alias("meets_k")
    )


# --------------------------------------------------------------------------
# q165 — Benford first-digit audit over order totals: observed leading-
# digit distribution vs Benford's law in exact integer permille, the
# classic synthetic-data / fraud smell test.  One scan, one 9-row
# aggregate; the expectation table is a literal — nothing transcendental
# ever runs engine-side, so the audit is bit-identical everywhere.
# --------------------------------------------------------------------------


@register(
    "q165_benford_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice > 0
),
tot AS (SELECT count(*) AS n_total FROM d),
obs AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
exp AS (
  SELECT * FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97), (5, 79),
                        (6, 67), (7, 58), (8, 51), (9, 46))
       AS t(digit, benford_permille)
)
SELECT exp.digit,
       CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
       CAST(coalesce(obs.n, 0) * 1000 // tot.n_total AS BIGINT)
         AS obs_permille,
       CAST(exp.benford_permille AS BIGINT) AS benford_permille,
       CAST(coalesce(obs.n, 0) * 1000 // tot.n_total
            - exp.benford_permille AS BIGINT) AS dev_permille
FROM exp LEFT JOIN obs USING (digit) CROSS JOIN tot
""",
    doc="Benford's-law leading-digit audit over o_totalprice: exact counts, "
    "integer-permille observed vs the literal Benford expectation, "
    "deviation per digit — one scan + 9-row aggregate, zero "
    "transcendentals engine-side; the synthetic/fraud smell test",
    tags=("relational", "quality", "audit"),
)
def q165_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("n_total"))
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    benford = spark.createDataFrame(
        [(1, 301), (2, 176), (3, 125), (4, 97), (5, 79), (6, 67),
         (7, 58), (8, 51), (9, 46)],
        "digit int, benford_permille bigint",
    )
    return (
        benford.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000 div n_total")
            .cast("bigint")
            .alias("obs_permille"),
            F.col("benford_permille").cast("bigint").alias(
                "benford_permille"
            ),
            F.expr(
                "coalesce(n, 0) * 1000 div n_total - benford_permille"
            )
            .cast("bigint")
            .alias("dev_permille"),
        )
    )


# --------------------------------------------------------------------------
# q169 — Pareto frontier of customers on (order count, lifetime cents):
# the rows no other customer strictly beats on both axes, computed by the
# distributed prefix-max skyline (operators/frontier.py) — range-
# partitioned scan + broadcast offset layer, never a global sort and
# never an all-pairs dominance join.  The "efficient frontier" selection
# every ranking/selection pipeline wants at corpus scale.
# --------------------------------------------------------------------------


@register(
    "q169_pareto_frontier",
    oracle="""
WITH agg AS (
  SELECT o_custkey AS c_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS total_cents
  FROM orders GROUP BY o_custkey
),
w AS (
  SELECT c_custkey, n_orders, total_cents,
         max(total_cents) OVER (ORDER BY n_orders DESC
                                RANGE BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
  FROM agg
)
SELECT c_custkey, n_orders, total_cents
FROM w WHERE pm IS NULL OR pm <= total_cents
""",
    doc="customer Pareto frontier on (n_orders, lifetime cents): strict "
    "2D dominance via the distributed prefix-max skyline — range "
    "partitions own contiguous x-slices, local range-frame windows "
    "exclude same-x ties, broadcast offsets carry cross-partition state; "
    "exact integer cents, no global sort, no dominance cross join",
    tags=("relational", "frontier", "ranking"),
)
def q169_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.frontier import (
        pareto_frontier_2d,
    )

    agg = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.sum(dec("o_totalprice")) * 100)
            .cast("bigint")
            .alias("total_cents"),
        )
    )
    return pareto_frontier_2d(agg, "n_orders", "total_cents")


# --------------------------------------------------------------------------
# q179 — Bloom-filter false-positive calibration: probe the q90-style
# portable filter with keys GUARANTEED absent (custkey + 10^12) and
# compare the measured false-positive rate to the fill-ratio bound
# (bits_set/m)^k, both in exact integer permille.  The sketch-calibration
# row (q96 ANN recall, q137 MinHash calibration) for the membership
# family: every hash is md5-deterministic, so measured FPR is a fixed
# fact of the fixture that both engines must agree on bit-for-bit.
# --------------------------------------------------------------------------


@register(
    "q179_bloom_fpr_calibration",
    oracle="""
WITH members AS (SELECT DISTINCT o_custkey AS k FROM orders),
probe AS (
  SELECT DISTINCT c_custkey + 1000000000000 AS k FROM customer
),
bits AS (
  SELECT DISTINCT unnest(
    [(CAST(('0x' || substr(md5('0' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192),
     (CAST(('0x' || substr(md5('1' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192),
     (CAST(('0x' || substr(md5('2' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192)]
  ) AS bit FROM members
),
ppos AS (
  SELECT k, unnest(
    [(CAST(('0x' || substr(md5('0' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192),
     (CAST(('0x' || substr(md5('1' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192),
     (CAST(('0x' || substr(md5('2' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT) % 8192)]
  ) AS bit FROM probe
),
pass AS (
  SELECT k FROM ppos JOIN bits USING (bit) GROUP BY k
  HAVING count(*) = 3
),
c AS (
  SELECT (SELECT count(*) FROM members) AS n_members,
         (SELECT count(*) FROM bits) AS bits_set,
         (SELECT count(*) FROM probe) AS n_probes,
         (SELECT count(*) FROM pass) AS false_hits
)
SELECT CAST(8192 AS BIGINT) AS m,
       CAST(3 AS BIGINT) AS k,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(bits_set AS BIGINT) AS bits_set,
       CAST(bits_set * 1000 // 8192 AS BIGINT) AS fill_permille,
       CAST(n_probes AS BIGINT) AS n_probes,
       CAST(false_hits AS BIGINT) AS false_hits,
       CAST(false_hits * 1000 // n_probes AS BIGINT) AS fpr_permille,
       CAST(bits_set * bits_set * bits_set * 1000
            // (CAST(8192 AS BIGINT) * 8192 * 8192) AS BIGINT)
         AS bound_permille
FROM c
""",
    doc="bloom FPR calibration: md5-deterministic filter (m=8192, k=3) "
    "over order custkeys probed with guaranteed-absent keys; measured "
    "false-positive permille vs the exact integer fill-ratio bound "
    "(bits_set/m)^k — the membership-family calibration row, "
    "bit-reproducible in any engine",
    tags=("relational", "sketch", "audit"),
)
def q179_bloom_fpr_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    m, k = 8192, 3
    members = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probes = (
        table(spark, sf_dir, "customer")
        .select((F.col("c_custkey") + F.lit(1_000_000_000_000)).alias("k"))
        .distinct()
    )
    bits = truncate_plan(bloom_build(members, "k", m=m, k=k))
    probed = bloom_probe(probes, "k", bits, m=m, k=k)
    nm = members.agg(F.count(F.lit(1)).alias("n_members"))
    nb = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    pr = probed.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("bloom_pass").cast("bigint")).alias("false_hits"),
    )
    return (
        nm.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(pr))
        .select(
            F.lit(m).cast("bigint").alias("m"),
            F.lit(k).cast("bigint").alias("k"),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("bits_set").cast("bigint").alias("bits_set"),
            F.expr(f"bits_set * 1000 div {m}")
            .cast("bigint")
            .alias("fill_permille"),
            F.col("n_probes").cast("bigint").alias("n_probes"),
            F.col("false_hits").cast("bigint").alias("false_hits"),
            F.expr("false_hits * 1000 div n_probes")
            .cast("bigint")
            .alias("fpr_permille"),
            F.expr(
                f"bits_set * bits_set * bits_set * 1000 "
                f"div (CAST({m} AS BIGINT) * {m} * {m})"
            )
            .cast("bigint")
            .alias("bound_permille"),
        )
    )


# --------------------------------------------------------------------------
# q181 — market-share shift: yearly revenue share per nation in exact
# permille, with year-over-year rank movement.  The BI contribution
# analysis: revenue folds in exact decimal (order-independent partials),
# shares and ranks run on the (year x nation) table — vocabulary-sized,
# so every window is bounded no matter the corpus.
# --------------------------------------------------------------------------


@register(
    "q181_market_share_shift",
    oracle="""
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
         n.n_name AS nation,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
tot AS (SELECT yr, sum(revenue) AS yr_total FROM rev GROUP BY yr),
sh AS (
  SELECT r.yr, r.nation,
         CAST(floor(r.revenue * 1000 / t.yr_total) AS BIGINT)
           AS share_permille,
         row_number() OVER (PARTITION BY r.yr
                            ORDER BY r.revenue DESC, r.nation) AS rnk
  FROM rev r JOIN tot t USING (yr)
)
SELECT yr, nation, share_permille,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(lag(rnk) OVER (PARTITION BY nation ORDER BY yr) - rnk
            AS BIGINT) AS rank_gain
FROM sh
""",
    doc="market-share shift: yearly nation revenue share in floor-permille "
    "(exact decimal folds) with per-year ranks and year-over-year rank "
    "gain — corpus folds once on the join keys; the share/rank layer "
    "rides the vocabulary-sized (year, nation) table",
    tags=("relational", "windows", "analytics"),
)
def q181_market_share_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", revenue_expr().alias("rev")
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("yr").cast("bigint").alias("yr"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum("rev").alias("revenue"))
    )
    rev = truncate_plan(rev)
    tot = rev.groupBy("yr").agg(F.sum("revenue").alias("yr_total"))
    w_rank = Window.partitionBy("yr").orderBy(
        F.col("revenue").desc(), F.col("nation")
    )
    sh = rev.join(F.broadcast(tot), "yr").select(
        "yr",
        "nation",
        F.floor(F.col("revenue") * 1000 / F.col("yr_total"))
        .cast("bigint")
        .alias("share_permille"),
        F.row_number().over(w_rank).cast("bigint").alias("rnk"),
    )
    w_lag = Window.partitionBy("nation").orderBy("yr")
    return sh.select(
        "yr",
        "nation",
        "share_permille",
        "rnk",
        (F.lag("rnk").over(w_lag) - F.col("rnk"))
        .cast("bigint")
        .alias("rank_gain"),
    )


# --------------------------------------------------------------------------
# q182 — referential-integrity and reconciliation audit across the star
# schema: orphan counts in both directions for every FK edge, in exact
# integers.  The pre-flight a 100 TB warehouse runs after every load:
# each edge is one anti-join (bloom/DPP-prunable), dimension sides
# broadcast, and the report is one row per edge.
# --------------------------------------------------------------------------


@register(
    "q182_referential_integrity",
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS edge,
       CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS orphans,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                               WHERE l.l_orderkey = o.o_orderkey))
            AS BIGINT) AS childless_parents
UNION ALL
SELECT 'orders.o_custkey->customer',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)),
       (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey))
UNION ALL
SELECT 'customer.c_nationkey->nation',
       (SELECT count(*) FROM customer),
       (SELECT count(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)),
       (SELECT count(*) FROM nation n
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_nationkey = n.n_nationkey))
""",
    doc="referential-integrity audit over the FK edges lineitem->orders, "
    "orders->customer, customer->nation: child rows, orphans (anti-join "
    "against the parent), and childless parents, all exact — each edge "
    "is one left-anti pass with the dimension side broadcast",
    tags=("relational", "quality", "audit"),
)
def q182_referential_integrity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")

    def edge(name, child, child_key, parent, parent_key):
        nc = child.agg(F.count(F.lit(1)).alias("n_child"))
        orphans = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        ).agg(F.count(F.lit(1)).alias("orphans"))
        childless = parent.join(
            child, child[child_key] == parent[parent_key], "left_anti"
        ).agg(F.count(F.lit(1)).alias("childless_parents"))
        return (
            nc.crossJoin(F.broadcast(orphans))
            .crossJoin(F.broadcast(childless))
            .select(
                F.lit(name).alias("edge"),
                F.col("n_child").cast("bigint").alias("n_child"),
                F.col("orphans").cast("bigint").alias("orphans"),
                F.col("childless_parents")
                .cast("bigint")
                .alias("childless_parents"),
            )
        )

    return (
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o.select("o_orderkey"), "o_orderkey")
        .unionByName(
            edge("orders.o_custkey->customer", o.select("o_custkey"), "o_custkey", c.select("c_custkey"), "c_custkey")
        )
        .unionByName(
            edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


# --------------------------------------------------------------------------
# q197 — seeded label propagation over the co-purchase part graph: every
# 10th part is seeded with a deterministic community label (partkey % 7);
# two synchronous rounds spread labels by neighbour majority vote with a
# total-order tiebreak. The community-assignment member of the graph
# family (q143 importance, q147/q149 density, CC in dedup) — the same
# one-join-one-aggregate-per-round Pregel step, with labels as the
# propagated state (operators/graph.py:label_propagation).
# --------------------------------------------------------------------------


@register(
    "q197_label_propagation",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
),
l0 AS (
  SELECT DISTINCT src AS node, src % 7 AS label FROM edges
  WHERE src % 10 = 0
),
n1 AS (
  SELECT e.dst AS node, l.label, count(*) AS c
  FROM edges e JOIN l0 l ON l.node = e.src
  GROUP BY 1, 2
),
a1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM n1) WHERE rn = 1
),
l1 AS (
  SELECT node, label, TRUE AS is_seed FROM l0
  UNION ALL
  SELECT a.node, a.label, FALSE FROM a1 a
  WHERE a.node NOT IN (SELECT node FROM l0)
),
n2 AS (
  SELECT e.dst AS node, l.label, count(*) AS c
  FROM edges e JOIN l1 l ON l.node = e.src
  GROUP BY 1, 2
),
a2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM n2) WHERE rn = 1
)
SELECT node AS part_key, CAST(label AS BIGINT) AS label, is_seed FROM (
  SELECT node, label, TRUE AS is_seed FROM l0
  UNION ALL
  SELECT a.node, a.label, FALSE FROM a2 a
  WHERE a.node NOT IN (SELECT node FROM l0)
)
""",
    doc="seeded synchronous label propagation (2 rounds) over the "
    "co-purchase part graph: seeds pinned, others take the neighbour "
    "majority label with a total-order tiebreak — deterministic "
    "community assignment, one equi-join + one bounded argmax window "
    "per round",
    tags=("relational", "graph", "iterative"),
)
def q197_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        label_propagation,
    )

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .where(F.col("node") % 10 == 0)
        .select("node", (F.col("node") % 7).alias("label"))
    )
    out = label_propagation(edges, seeds, rounds=2)
    return out.select(
        F.col("node").alias("part_key"),
        F.col("label").cast("bigint").alias("label"),
        "is_seed",
    )


# --------------------------------------------------------------------------
# q198 — cardinality-capped rollup ("top-N + other"): the reporting
# staple that keeps dashboards bounded — the top 10 customers by revenue
# keep their identity, everyone else folds into one OTHER row so the
# result is 11 rows at any corpus size. The top-N is a distributed
# TakeOrdered on the aggregated (customer-sized) layer; OTHER is total
# minus top (one extra scalar aggregate), so the corpus is scanned once.
# --------------------------------------------------------------------------


@register(
    "q198_topn_plus_other",
    oracle="""
WITH c AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents,
         count(*) AS n
  FROM orders GROUP BY o_custkey
),
top AS (
  SELECT o_custkey, cents, n,
         row_number() OVER (ORDER BY cents DESC, o_custkey ASC) AS rnk
  FROM c QUALIFY rnk <= 10
),
tot AS (SELECT sum(cents) AS tc, sum(n) AS tn FROM c)
SELECT CAST(o_custkey AS VARCHAR) AS customer,
       CAST(cents AS BIGINT) AS revenue_cents,
       CAST(n AS BIGINT) AS n_orders,
       CAST(rnk AS INT) AS rnk
FROM top
UNION ALL
SELECT 'OTHER',
       CAST(t.tc - (SELECT sum(cents) FROM top) AS BIGINT),
       CAST(t.tn - (SELECT sum(n) FROM top) AS BIGINT),
       CAST(11 AS INT)
FROM tot t
""",
    doc="top-10 customers by exact-cents revenue with an OTHER fold-in row "
    "(total minus top) — bounded-output reporting rollup: TakeOrdered on "
    "the customer-sized aggregate plus one scalar total, corpus scanned "
    "once",
    tags=("relational", "aggregate", "topk"),
)
def q198_topn_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice", 18, 2) * 100)
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    top = (
        c.orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cents").desc(), F.col("o_custkey").asc())
            ),
        )
    )
    tot = c.agg(F.sum("cents").alias("tc"), F.sum("n").alias("tn"))
    topsum = top.agg(
        F.sum("cents").alias("sc"), F.sum("n").alias("sn")
    )
    other = (
        tot.crossJoin(F.broadcast(topsum))
        .select(
            F.lit("OTHER").alias("customer"),
            (F.col("tc") - F.col("sc")).cast("bigint").alias("revenue_cents"),
            (F.col("tn") - F.col("sn")).cast("bigint").alias("n_orders"),
            F.lit(11).cast("int").alias("rnk"),
        )
    )
    return top.select(
        F.col("o_custkey").cast("string").alias("customer"),
        F.col("cents").cast("bigint").alias("revenue_cents"),
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("rnk").cast("int").alias("rnk"),
    ).unionByName(other)


# --------------------------------------------------------------------------
# q199 — share-of-parent in the geography hierarchy: each nation's
# revenue as a share of its region, each region's as a share of the
# world — the drill-down percent-of-parent report. One fact aggregate at
# the finest grain, parent layers derived from it (never a second corpus
# scan), shares in exact integer permille of exact cents.
# --------------------------------------------------------------------------


@register(
    "q199_share_of_parent",
    oracle="""
WITH f AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
),
rg AS (SELECT region, sum(cents) AS rcents FROM f GROUP BY 1),
w AS (SELECT sum(cents) AS wcents FROM f)
SELECT f.region, f.nation, f.cents,
       CAST(f.cents * 1000 // rg.rcents AS BIGINT) AS share_of_region,
       CAST(rg.rcents * 1000 // w.wcents AS BIGINT) AS region_share_of_world
FROM f JOIN rg ON f.region = rg.region CROSS JOIN w
""",
    doc="percent-of-parent drill-down over region->nation: nation revenue "
    "share within region and region share of world, exact cents and "
    "integer permille — one finest-grain fact aggregate, parent layers "
    "derived without rescanning the corpus",
    tags=("relational", "aggregate", "join"),
)
def q199_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    f = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("cents")
        )
    )
    rg = f.groupBy("region").agg(F.sum("cents").alias("rcents"))
    w = f.agg(F.sum("cents").alias("wcents"))
    return (
        f.join(F.broadcast(rg), "region")
        .crossJoin(F.broadcast(w))
        .select(
            "region",
            "nation",
            "cents",
            # decimal: cents sums are corpus-scale; *1000 in bigint
            # binds 1000x below the column's own report range
            F.expr(
                "cast(cast(cents as decimal(38,0)) * 1000 div rcents "
                "as bigint)"
            ).alias("share_of_region"),
            F.expr(
                "cast(cast(rcents as decimal(38,0)) * 1000 div wcents "
                "as bigint)"
            ).alias("region_share_of_world"),
        )
    )


# --------------------------------------------------------------------------
# q207 — subject access report (the read dual of q76's right-to-be-
# forgotten): everything the platform holds about one subject key,
# summarized per table — row counts, value totals in exact cents, and
# activity bounds as epoch-µs. Each leg is an indexed/pushed point
# lookup (predicate reaches the scan), unioned into one bounded report;
# at 100 TB each leg touches only the subject's partitions.
# --------------------------------------------------------------------------

_Q207_SUBJECT = 42


@register(
    "q207_subject_access_report",
    oracle=f"""
SELECT 'orders' AS source_table,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS total_cents,
       CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS first_us,
       CAST(max(epoch_us(o_orderdate)) AS BIGINT) AS last_us
FROM orders WHERE o_custkey = {_Q207_SUBJECT}
UNION ALL
SELECT 'events',
       CAST(count(*) AS BIGINT),
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT),
       CAST(min(epoch_us(ts)) AS BIGINT),
       CAST(max(epoch_us(ts)) AS BIGINT)
FROM events WHERE user_id = {_Q207_SUBJECT}
""",
    doc="subject access report: per-table row counts, exact-cents value "
    "totals and activity bounds for one subject key — pushed point "
    "lookups unioned into a bounded report (the read dual of the q76 "
    "forget propagation)",
    tags=("relational", "governance"),
)
def q207_subject_access_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(
        F.col("o_custkey") == _Q207_SUBJECT
    )
    ev = table(spark, sf_dir, "events").where(
        F.col("user_id") == _Q207_SUBJECT
    )
    orders_leg = o.agg(
        F.lit("orders").alias("source_table"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(dec("o_totalprice", 18, 2) * 100)
        .cast("bigint")
        .alias("total_cents"),
        F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .cast("bigint")
        .alias("first_us"),
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .cast("bigint")
        .alias("last_us"),
    )
    events_leg = ev.agg(
        F.lit("events").alias("source_table"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("ts_us").cast("bigint").alias("first_us"),
        F.max("ts_us").cast("bigint").alias("last_us"),
    )
    return orders_leg.unionByName(events_leg)


# --------------------------------------------------------------------------
# q208 — TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
# the fixture's columns (lateness = shipped > 90 days after the order
# date; the fixture carries no receipt/commit dates): for finished
# orders, count per supplier the multi-supplier orders where THIS
# supplier shipped late and NO OTHER supplier did — the classic
# exists + not-exists double-correlation, expressed as one order-keyed
# supplier-set aggregate instead of two correlated subqueries (one
# shuffle on the order key; the per-order state is its distinct
# supplier/late-supplier sets, bounded by suppliers-per-order).
# --------------------------------------------------------------------------


@register(
    "q208_waiting_suppliers",
    oracle="""
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_supp AS (
  SELECT l_orderkey, l_suppkey, max(late) AS late
  FROM li GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, count(*) AS n_supps, sum(late) AS n_late
  FROM per_supp GROUP BY 1
),
blamed AS (
  SELECT ps.l_suppkey
  FROM per_supp ps JOIN per_order po ON po.l_orderkey = ps.l_orderkey
  WHERE ps.late = 1 AND po.n_supps > 1 AND po.n_late = 1
)
SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM blamed b JOIN supplier s ON s.s_suppkey = b.l_suppkey
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 20
""",
    doc="TPC-H Q21 shape: suppliers solely responsible for a late "
    "multi-supplier finished order — the exists/not-exists double "
    "correlation rewritten as order-keyed supplier-set aggregates "
    "(one shuffle, per-order state bounded by suppliers-per-order), "
    "top-20 with a deterministic tiebreak",
    tags=("relational", "join", "topk"),
)
def q208_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    per_supp = joined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"), F.sum("late").alias("n_late")
    )
    blamed = (
        per_supp.join(per_order, "l_orderkey")
        .where(
            (F.col("late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late") == 1)
        )
        .select("l_suppkey")
    )
    return (
        blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# q209 — TPC-H Q2 shape (minimum-cost supplier), adapted: per part, the
# supplier(s) whose best offered unit price (min extended price in exact
# cents over that part-supplier's lineitems) equals the part's global
# minimum — the correlated-min subquery decorrelated into one aggregate
# plus a part-keyed min window over the (part, supplier) layer, whose
# partition is bounded by suppliers-per-part, never the corpus.
# --------------------------------------------------------------------------


@register(
    "q209_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS cost_cents
  FROM lineitem GROUP BY 1, 2
),
m AS (
  SELECT l_partkey, l_suppkey, cost_cents,
         min(cost_cents) OVER (PARTITION BY l_partkey) AS best
  FROM ps
)
SELECT m.l_partkey AS part_key, s.s_suppkey, s.s_name,
       CAST(cost_cents AS BIGINT) AS cost_cents
FROM m JOIN supplier s ON s.s_suppkey = m.l_suppkey
WHERE cost_cents = best AND m.l_partkey < 100
""",
    doc="TPC-H Q2 shape: per part the minimum-cost supplier(s) in exact "
    "cents — correlated min decorrelated into a (part, supplier) "
    "aggregate plus a part-keyed min window bounded by "
    "suppliers-per-part; ties kept (deterministic set)",
    tags=("relational", "join", "window"),
)
def q209_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min((dec("l_extendedprice", 18, 2) * 100).cast("bigint")).alias(
            "cost_cents"
        )
    )
    w = Window.partitionBy("l_partkey")
    m = ps.withColumn("best", F.min("cost_cents").over(w)).where(
        (F.col("cost_cents") == F.col("best")) & (F.col("l_partkey") < 100)
    )
    return m.join(F.broadcast(s), m.l_suppkey == s.s_suppkey).select(
        F.col("l_partkey").alias("part_key"),
        "s_suppkey",
        "s_name",
        F.col("cost_cents").cast("bigint").alias("cost_cents"),
    )


# --------------------------------------------------------------------------
# q210 — TPC-H Q14 shape: promotion revenue share per month — what
# fraction of each month's discounted revenue came from PROMO-type
# parts. Exact DECIMAL revenue on both legs of one conditional
# aggregate (no second scan), share in integer permille; the part type
# is a broadcast dimension attach.
# --------------------------------------------------------------------------


@register(
    "q210_promo_revenue_share",
    oracle="""
WITH r AS (
  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
         -- scale-4 revenue x 10000 is INTEGRAL exactly (decimal(12,2) x
         -- decimal(4,2) has scale 4), so the fixed-point units carry no
         -- per-row truncate-vs-round ambiguity between engines
         CAST(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
           AS rev4,
         p.p_type
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
)
SELECT ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev4 ELSE 0 END) AS BIGINT)
         AS promo_rev4,
       CAST(sum(rev4) AS BIGINT) AS total_rev4,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev4 ELSE 0 END) * 1000
            // sum(rev4) AS BIGINT) AS promo_permille
FROM r GROUP BY ship_month
""",
    doc="TPC-H Q14 shape: PROMO-part share of monthly discounted revenue "
    "— one conditional aggregate over exact scale-4 fixed-point revenue "
    "(integral by construction, no cents rounding ambiguity), broadcast "
    "part dimension, share in integer permille",
    tags=("relational", "aggregate", "join"),
)
def q210_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev4 = (
        dec("l_extendedprice", 12, 2)
        * (F.lit(1) - dec("l_discount", 4, 2))
        * 10000
    ).cast("bigint")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
            "ship_month"
        ),
        rev4.alias("rev4"),
        F.when(F.col("p_type") == "PROMO", rev4).otherwise(0).alias(
            "promo"
        ),
    )
    return j.groupBy("ship_month").agg(
        F.sum("promo").cast("bigint").alias("promo_rev4"),
        F.sum("rev4").cast("bigint").alias("total_rev4"),
        F.expr("sum(promo) * 1000 div sum(rev4)")
        .cast("bigint")
        .alias("promo_permille"),
    )


# --------------------------------------------------------------------------
# q211 — TPC-H Q17 shape: small-quantity orders for a brand — lineitems
# whose quantity is below 20% of that part's average order quantity, and
# the revenue they represent. The correlated AVG subquery decorrelates
# into a part-keyed aggregate; the 0.2·avg comparison cross-multiplies
# to 5·qty·cnt < sum so the threshold test is exact integer algebra
# (fractional-average comparisons never touch floats).
# --------------------------------------------------------------------------


@register(
    "q211_small_quantity_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN pa ON pa.l_partkey = l.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE 5 * CAST(l.l_quantity AS BIGINT) * pa.cnt < pa.sum_qty
GROUP BY p.p_brand
""",
    doc="TPC-H Q17 shape: lineitems below 20% of their part's average "
    "quantity and their exact-cents revenue per brand — correlated AVG "
    "decorrelated to a part-keyed aggregate, threshold cross-multiplied "
    "to exact integers (5*qty*cnt < sum), part dimension broadcast",
    tags=("relational", "aggregate", "join"),
)
def q211_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(pa, "l_partkey")
        .where(
            5 * F.col("l_quantity").cast("bigint") * F.col("cnt")
            < F.col("sum_qty")
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_small"),
            F.sum((dec("l_extendedprice", 12, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------------
# q212 — TPC-H Q18 shape: large-volume orders — orders whose total
# quantity exceeds 300, with their customer. HAVING over an exact
# integer sum on the order key, then broadcast-attached dimensions;
# output bounded by the qualifying orders.
# --------------------------------------------------------------------------


@register(
    "q212_large_orders",
    oracle="""
SELECT c.c_name, o.o_orderkey,
       CAST(epoch_us(o.o_orderdate) AS BIGINT) AS orderdate_us,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS totalprice_cents,
       CAST(t.sum_qty AS BIGINT) AS sum_qty
FROM (
  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 300
) t
JOIN orders o ON o.o_orderkey = t.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
    doc="TPC-H Q18 shape: orders with total quantity > 300 and their "
    "customers — HAVING over an exact integer order-keyed sum, "
    "dimensions broadcast-attached to the bounded qualifying set",
    tags=("relational", "aggregate", "join"),
)
def q212_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    t = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        t.join(o, t.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            .cast("bigint")
            .alias("orderdate_us"),
            (dec("o_totalprice", 18, 2) * 100)
            .cast("bigint")
            .alias("totalprice_cents"),
            F.col("sum_qty").cast("bigint").alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# q213 — TPC-H Q22 shape: dormant high-balance customers — customers
# with an account balance above their nation group's positive average
# and NO orders in the final year of the corpus, counted per nation. The correlated average
# decorrelates to one broadcast scalar per group; "no orders" is a
# left-anti join on the customer key; the above-average test
# cross-multiplies exact cents (bal·n > sum) so no float ever decides
# membership.
# --------------------------------------------------------------------------


@register(
    "q213_dormant_customers",
    oracle="""
WITH bal AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
avg_pos AS (
  SELECT c_nationkey,
         CAST(sum(bal_cents) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM bal WHERE bal_cents > 0 GROUP BY c_nationkey
),
mx AS (SELECT max(o_orderdate) AS m FROM orders),
dormant AS (
  SELECT b.c_custkey, b.c_nationkey, b.bal_cents
  FROM bal b JOIN avg_pos a ON a.c_nationkey = b.c_nationkey, mx
  WHERE b.bal_cents * a.n > a.s
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = b.c_custkey
                      AND o.o_orderdate >= mx.m - INTERVAL 365 DAY)
)
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
FROM dormant d JOIN nation n ON n.n_nationkey = d.c_nationkey
GROUP BY n.n_name
""",
    doc="TPC-H Q22 shape: customers above their nation's positive-average "
    "balance with no orders in the final year, per nation — correlated "
    "avg decorrelated to a nation-keyed aggregate, membership decided "
    "by exact-cents cross-multiplication, dormancy via left-anti join "
    "against the recent-orders key set",
    tags=("relational", "join", "aggregate"),
)
def q213_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    o_all = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    mx = o_all.agg(F.max("o_orderdate").alias("m"))
    o = (
        o_all.crossJoin(F.broadcast(mx))
        .where(
            F.col("o_orderdate") >= F.col("m") - F.expr("INTERVAL 365 DAY")
        )
        .select("o_custkey")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avg_pos = (
        c.where(F.col("bal_cents") > 0)
        .groupBy("c_nationkey")
        .agg(
            F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
        )
    )
    dormant = (
        c.join(F.broadcast(avg_pos), "c_nationkey")
        .where(F.col("bal_cents") * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        dormant.join(F.broadcast(n), dormant.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("bal_cents").cast("bigint").alias("total_bal_cents"),
        )
    )


# --------------------------------------------------------------------------
# q215 — period-over-period report: monthly revenue with month-over-month
# and year-over-year deltas in exact integer permille. The comparison
# joins are equi-joins on derived month keys (never window-lag over a
# calendar with holes — a missing month must compare against NOTHING,
# not the previous existing row, which is exactly what lag() would
# silently do). Absent comparison periods surface as NULL deltas.
# --------------------------------------------------------------------------


@register(
    "q215_period_over_period",
    oracle="""
WITH m AS (
  SELECT CAST(date_part('year', o_orderdate) AS BIGINT) * 12
         + CAST(date_part('month', o_orderdate) AS BIGINT) - 1 AS mkey,
         strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
)
SELECT cur.month, cur.cents,
       CAST((cur.cents - prev.cents) * 1000 // prev.cents AS BIGINT)
         AS mom_permille,
       CAST((cur.cents - yoy.cents) * 1000 // yoy.cents AS BIGINT)
         AS yoy_permille
FROM m cur
LEFT JOIN m prev ON prev.mkey = cur.mkey - 1
LEFT JOIN m yoy ON yoy.mkey = cur.mkey - 12
""",
    doc="monthly revenue with MoM and YoY deltas in exact integer "
    "permille — equi-joins on derived month keys so calendar holes "
    "compare against NULL instead of lag()'s previous-existing-row "
    "trap; one month-keyed aggregate feeds all three legs",
    tags=("relational", "aggregate", "window"),
)
def q215_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate").cast("bigint") * 12
            + F.month("o_orderdate").cast("bigint")
            - 1
        ).alias("mkey"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        ),
    ).agg(
        F.sum((dec("o_totalprice", 18, 2) * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    prev = m.select(
        (F.col("mkey") + 1).alias("mkey"), F.col("cents").alias("prev_cents")
    )
    yoy = m.select(
        (F.col("mkey") + 12).alias("mkey"), F.col("cents").alias("yoy_cents")
    )
    return (
        m.join(prev, "mkey", "left")
        .join(yoy, "mkey", "left")
        .select(
            "month",
            "cents",
            # decimal: monthly cents are corpus-scale sums (*1000
            # would bind 1000x below the column's report range)
            F.expr(
                "cast(cast(cents - prev_cents as decimal(38,0)) * 1000 "
                "div prev_cents as bigint)"
            ).alias("mom_permille"),
            F.expr(
                "cast(cast(cents - yoy_cents as decimal(38,0)) * 1000 "
                "div yoy_cents as bigint)"
            ).alias("yoy_permille"),
        )
    )


# --------------------------------------------------------------------------
# q218 — TPC-H Q7 shape: nation-pair trade flow. Revenue shipped from a
# supplier nation to a (different) customer nation per ship year. The
# supplier and nation dimensions broadcast onto lineitem; the one big
# shuffle is lineitem⋈orders on the order key; customer attaches to the
# order side before that join so the shuffle carries the already-reduced
# (orderkey, cust_nation) pairs. Revenue in exact scale-4 fixed point.
# --------------------------------------------------------------------------


@register(
    "q218_nation_trade_flow",
    oracle="""
WITH o AS (
  SELECT o_orderkey, n.n_name AS cust_nation
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
l AS (
  SELECT l_orderkey,
         CAST(date_part('year', l_shipdate) AS BIGINT) AS ship_year,
         n.n_name AS supp_nation,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
           AS rev4
  FROM lineitem li JOIN supplier s ON s.s_suppkey = li.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
)
SELECT l.supp_nation, o.cust_nation, l.ship_year,
       CAST(sum(l.rev4) AS BIGINT) AS rev4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM l JOIN o ON o.o_orderkey = l.l_orderkey
WHERE l.supp_nation <> o.cust_nation
GROUP BY l.supp_nation, o.cust_nation, l.ship_year
""",
    doc="TPC-H Q7 shape: supplier-nation to customer-nation revenue flow "
    "per ship year — dimensions broadcast onto both legs, one order-key "
    "shuffle join, exact scale-4 fixed-point revenue",
    tags=("relational", "join", "aggregate"),
)
def q218_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
        (revenue_expr() * 10000).cast("bigint").alias("rev4"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    supp_side = li.join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey
    ).join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "l_orderkey",
        "ship_year",
        "rev4",
        F.col("n_name").alias("supp_nation"),
    )
    cust_side = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("o_orderkey", F.col("n_name").alias("cust_nation"))

    return (
        supp_side.join(
            cust_side, supp_side.l_orderkey == cust_side.o_orderkey
        )
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            F.sum("rev4").cast("bigint").alias("rev4"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# q219 — TPC-H Q9 shape: revenue by supplier nation and order year for a
# part-name family. Part (filtered BEFORE the join: Catalyst pushes the
# LIKE into the broadcast build side) and supplier/nation broadcast onto
# lineitem; orders attaches the year via the single order-key shuffle.
# --------------------------------------------------------------------------


@register(
    "q219_nation_part_profit",
    oracle="""
SELECT n.n_name AS nation,
       CAST(date_part('year', o.o_orderdate) AS BIGINT) AS order_year,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000
                     AS BIGINT)) AS BIGINT) AS rev4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem li
JOIN part p ON p.p_partkey = li.l_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON s.s_suppkey = li.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = li.l_orderkey
GROUP BY n.n_name, CAST(date_part('year', o.o_orderdate) AS BIGINT)
""",
    doc="TPC-H Q9 shape: revenue for the 'widget' part family by supplier "
    "nation and order year — LIKE-filtered part broadcast, supplier and "
    "nation broadcast, one order-key shuffle join",
    tags=("relational", "join", "aggregate"),
)
def q219_nation_part_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (revenue_expr() * 10000).cast("bigint").alias("rev4"),
    )
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.sum("rev4").cast("bigint").alias("rev4"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# q220 — TPC-H Q12 shape: late-shipment priority audit. Lines shipped
# more than 60 days after their order date, bucketed by return flag (the
# fixture's stand-in for ship mode), counting urgent-class vs low-class
# order priorities in one conditional aggregate. The late predicate is a
# per-row comparison evaluated after the single order-key shuffle join.
# --------------------------------------------------------------------------


@register(
    "q220_late_shipment_priority",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY l.l_returnflag
""",
    doc="TPC-H Q12 shape: lines shipped >60 days after order date "
    "bucketed by return flag, urgent-class vs low-class priorities in "
    "one conditional aggregate after the order-key join",
    tags=("relational", "join", "aggregate"),
)
def q220_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# q221 — TPC-H Q19 shape: disjunctive brand/size/quantity revenue. The OR
# of three (brand, size-band, quantity-band) conjunctions — the classic
# pushdown test: the part-side conjuncts prune the broadcast build side
# (brand/size), the lineitem-side quantity bands stay in the scan filter,
# and only the cross terms are evaluated post-join.
# --------------------------------------------------------------------------


@register(
    "q221_disjunctive_band_revenue",
    oracle="""
SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000
                     AS BIGINT)) AS BIGINT) AS rev4,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 35)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
""",
    doc="TPC-H Q19 shape: disjunction of three brand/size/quantity band "
    "conjunctions over the part-key join — Catalyst extracts the "
    "common part-side and lineitem-side conjuncts into the scans",
    tags=("relational", "join", "filter"),
)
def q221_disjunctive_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        (revenue_expr() * 10000).cast("bigint").alias("rev4"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.sum("rev4").cast("bigint").alias("rev4"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# q222 — TPC-H Q16 shape: supplier cardinality per part profile. Distinct
# suppliers that shipped each (brand, type, size) profile, excluding one
# brand and the PROMO type family — the part dimension filters broadcast
# onto lineitem and the distinct count is a two-level hash aggregate
# (partial distinct per partition, merge on the profile key), never a
# buffered collect_set.
# --------------------------------------------------------------------------


@register(
    "q222_supplier_part_profiles",
    oracle="""
SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#13' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
GROUP BY p.p_brand, p.p_type, CAST(p.p_size AS BIGINT)
""",
    doc="TPC-H Q16 shape: distinct shipping suppliers per (brand, type, "
    "size) profile with brand/type exclusions — filtered part broadcast, "
    "two-level distinct hash aggregate",
    tags=("relational", "join", "aggregate"),
)
def q222_supplier_part_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size")
        )
        .agg(
            F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
    )


# --------------------------------------------------------------------------
# q225 — k-core peeling trajectory of the co-purchase part graph
# (operators/graph.py k_core_rounds): four peel rounds at an adaptive
# threshold k = 0.8·mean-degree + 1, emitting the surviving node/edge
# counts per round. Each round is a degree groupBy plus two semi-joins
# (the Pregel step shape — no global state, threshold is a 1-row
# broadcast); the oracle unrolls the same four rounds as materialized
# CTEs. The "dense core extraction" primitive for curriculum/canonical
# selection over near-dup graphs.
# --------------------------------------------------------------------------


def _q225_oracle(rounds: int = 4) -> str:
    parts = []
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, count(*) AS d
  FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
  GROUP BY node
),
s{r} AS MATERIALIZED (SELECT node FROM d{r}, kf WHERE d >= kf.k),
e{r} AS MATERIALIZED (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT node FROM s{r}) AND b IN (SELECT node FROM s{r})
)"""
        )
    rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, kf.k AS k,"
        f" (SELECT count(*) FROM s{r}) AS n_nodes,"
        f" (SELECT count(*) FROM e{r}) AS n_edges FROM kf"
        for r in range(1, rounds + 1)
    )
    ctes = ",\n".join(parts)
    return f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
kf AS MATERIALIZED (
  SELECT CAST((SELECT count(*) * 8 FROM e0)
         // (SELECT count(DISTINCT node) * 5 FROM
              (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0))
         + 1 AS BIGINT) AS k
),
{ctes}
SELECT CAST(round AS BIGINT) AS round, CAST(k AS BIGINT) AS k,
       CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
FROM ({rows})
"""


@register(
    "q225_kcore_trajectory",
    oracle=_q225_oracle(),
    doc="k-core peeling trajectory (4 rounds, adaptive k = 0.8·mean-"
    "degree + 1) of the co-purchase part graph — per-round degree "
    "groupBy + two semi-joins, per-round survivor node/edge counts; "
    "oracle unrolls the same rounds as materialized CTEs",
    tags=("relational", "graph", "iterative"),
)
def q225_kcore_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        k_core_rounds,
    )

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ia, ib = items.alias("ia"), items.alias("ib")
    edges = (
        ia.join(ib, "l_orderkey")
        .where(F.col("ia.l_partkey") < F.col("ib.l_partkey"))
        .select(
            F.col("ia.l_partkey").alias("a"),
            F.col("ib.l_partkey").alias("b"),
        )
        .distinct()
    )
    return k_core_rounds(edges, rounds=4)


# --------------------------------------------------------------------------
# q229 — multi-source BFS level sets over the co-purchase graph
# (operators/graph.py bfs_hop_counts): hop-distance histogram (0..3 and
# unreached) from a deterministic seed set (part keys ≡ 0 mod 97). Each
# hop is one persisted-frontier edge join per direction + distinct +
# anti-join — the Pregel expansion step, hop-bounded by design. The
# oracle unrolls the same three expansions as materialized CTEs.
# --------------------------------------------------------------------------


def _q229_oracle(max_hops: int = 3) -> str:
    parts = []
    for h in range(1, max_hops + 1):
        fr = f"r0" if h == 1 else f"n{h-1}"
        reach = "r0" if h == 1 else f"t{h-1}"
        parts.append(
            f"""n{h} AS MATERIALIZED (
  SELECT DISTINCT nbr AS node FROM (
    SELECT b AS nbr FROM e0 WHERE a IN (SELECT node FROM {fr})
    UNION ALL
    SELECT a AS nbr FROM e0 WHERE b IN (SELECT node FROM {fr})
  ) WHERE nbr NOT IN (SELECT node FROM {reach})
),
t{h} AS MATERIALIZED (
  SELECT node FROM {reach} UNION SELECT node FROM n{h}
)"""
        )
    rows = ["SELECT 0 AS dist, (SELECT count(*) FROM r0) AS n_nodes"]
    rows += [
        f"SELECT {h} AS dist, (SELECT count(*) FROM n{h}) AS n_nodes"
        for h in range(1, max_hops + 1)
    ]
    rows.append(
        f"SELECT -1 AS dist, (SELECT count(*) FROM nodes "
        f"WHERE node NOT IN (SELECT node FROM t{max_hops})) AS n_nodes"
    )
    ctes = ",\n".join(parts)
    unioned = "\nUNION ALL\n".join(rows)
    return f"""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM
    (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
),
r0 AS MATERIALIZED (SELECT node FROM nodes WHERE node % 97 = 0),
{ctes}
SELECT CAST(dist AS BIGINT) AS dist, CAST(n_nodes AS BIGINT) AS n_nodes
FROM ({unioned})
"""


@register(
    "q229_bfs_hop_histogram",
    oracle=_q229_oracle(),
    doc="multi-source BFS hop-distance histogram (seeds: part keys "
    "divisible by 97; hops 0-3 plus unreached) over the co-purchase "
    "graph — persisted-frontier Pregel expansion, one edge join per "
    "direction per hop; oracle unrolls the same level sets",
    tags=("relational", "graph", "iterative"),
)
def q229_bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        bfs_hop_counts,
    )

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ia, ib = items.alias("ia"), items.alias("ib")
    edges = (
        ia.join(ib, "l_orderkey")
        .where(F.col("ia.l_partkey") < F.col("ib.l_partkey"))
        .select(
            F.col("ia.l_partkey").alias("a"),
            F.col("ib.l_partkey").alias("b"),
        )
        .distinct()
    )
    seeds = (
        table(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("node"))
        .where(F.col("node") % 97 == 0)
    )
    return bfs_hop_counts(edges, seeds, max_hops=3)


# --------------------------------------------------------------------------
# q239 — TPC-H Q4 shape: order-priority checking. Count 1996 orders, by
# priority, having at least one "late" line (shipped more than 60 days
# after the order date — the fixture's stand-in for Q4's commit-vs-
# receipt lag). The existence test is a LEFT SEMI join on the order key
# with the lateness predicate inside the join condition, so the probe
# side never duplicates orders and the date filter prunes the orders
# scan before the one shuffle.
# --------------------------------------------------------------------------


@register(
    "q239_priority_late_orders",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: 1996 orders with at least one line shipped >60 "
    "days after ordering, counted by priority — LEFT SEMI join with the "
    "lateness predicate in the join condition, date filter pushed to "
    "the orders scan",
    tags=("relational", "join", "aggregate"),
)
def q239_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + interval 60 days")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


# --------------------------------------------------------------------------
# q240 — TPC-H Q8 shape: national market share. Within the revenue that
# AMERICA-region customers spent on ECONOMY-type parts, the share (exact
# floor-permille) supplied by NATION_0 suppliers, per order year. Part,
# supplier, nation, and region dimensions all broadcast; the one big
# shuffle is lineitem⋈orders on the order key; revenue folds in exact
# decimal before the share division on the year-sized table.
# --------------------------------------------------------------------------


@register(
    "q240_national_market_share",
    oracle="""
WITH l AS (
  SELECT li.l_orderkey,
         CAST(CAST(li.l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(li.l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
           AS rev4,
         CASE WHEN ns.n_name = 'NATION_0' THEN 1 ELSE 0 END AS is_target
  FROM lineitem li
  JOIN part p ON p.p_partkey = li.l_partkey AND p.p_type = 'ECONOMY'
  JOIN supplier s ON s.s_suppkey = li.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
),
o AS (
  SELECT o.o_orderkey, CAST(year(o.o_orderdate) AS BIGINT) AS yr
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = nc.n_regionkey AND r.r_name = 'AMERICA'
),
yr AS (
  SELECT o.yr,
         CAST(sum(l.rev4) AS BIGINT) AS market_rev4,
         CAST(sum(CASE WHEN l.is_target = 1 THEN l.rev4 ELSE 0 END)
              AS BIGINT) AS target_rev4
  FROM l JOIN o ON o.o_orderkey = l.l_orderkey
  GROUP BY o.yr
)
SELECT yr, market_rev4, target_rev4,
       CAST(CAST(target_rev4 AS HUGEINT) * 1000 // market_rev4 AS BIGINT)
         AS share_permille
FROM yr
""",
    doc="TPC-H Q8 shape: NATION_0 suppliers' share (floor-permille) of "
    "AMERICA-region customers' ECONOMY-part revenue per order year — "
    "all dimensions broadcast, one order-key shuffle, exact decimal "
    "folds before the share division on the year-sized table",
    tags=("relational", "join", "aggregate", "analytics"),
)
def q240_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (revenue_expr() * 10000).cast("bigint").alias("rev4"),
    )
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    l = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "l_orderkey",
            "rev4",
            F.when(F.col("n_name") == "NATION_0", F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_target"),
        )
    )
    nc = (
        n.join(
            F.broadcast(r.where(F.col("r_name") == "AMERICA")),
            n.n_regionkey == F.col("r_regionkey"),
            "left_semi",
        )
        .select(F.col("n_nationkey").alias("cn_nationkey"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", F.year("o_orderdate").cast("bigint").alias("yr"))
        .join(
            table(spark, sf_dir, "customer").select(
                "c_custkey", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nc),
            F.col("c_nationkey") == F.col("cn_nationkey"),
            "left_semi",
        )
        .select("o_orderkey", "yr")
    )
    yr = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("yr")
        .agg(
            F.sum("rev4").cast("bigint").alias("market_rev4"),
            F.sum(
                F.when(F.col("is_target") == 1, F.col("rev4")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("target_rev4"),
        )
    )
    return yr.select(
        "yr",
        "market_rev4",
        "target_rev4",
        F.expr(
            "cast(cast(target_rev4 as decimal(38,0)) * 1000 "
            "div market_rev4 as bigint)"
        ).alias("share_permille"),
    )


# --------------------------------------------------------------------------
# q241 — TPC-H Q11 shape: important-stock identification. Per-part value
# shipped by NATION_1 suppliers, keeping parts whose value exceeds 0.1%
# of the grand total. The grand total is a one-row aggregate of the
# already-reduced per-part table, broadcast back as the HAVING
# threshold — the corpus folds exactly once on (partkey).
# --------------------------------------------------------------------------


@register(
    "q241_important_stock",
    oracle="""
WITH pv AS (
  SELECT li.l_partkey AS partkey,
         CAST(sum(CAST(CAST(li.l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(li.l_discount AS DECIMAL(4,2)))
                       * 10000 AS BIGINT)) AS BIGINT) AS value4
  FROM lineitem li
  JOIN supplier s ON s.s_suppkey = li.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
                AND n.n_name = 'NATION_1'
  GROUP BY li.l_partkey
),
t AS (SELECT CAST(sum(value4) AS HUGEINT) AS grand FROM pv)
SELECT pv.partkey, pv.value4
FROM pv, t
WHERE CAST(pv.value4 AS HUGEINT) * 1000 > t.grand
""",
    doc="TPC-H Q11 shape: per-part shipped value from NATION_1 suppliers, "
    "kept where value > 0.1% of the grand total — one corpus fold on "
    "partkey, one-row grand total broadcast back as the threshold",
    tags=("relational", "join", "aggregate"),
)
def q241_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (revenue_expr() * 10000).cast("bigint").alias("rev4"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_1"
    )
    pv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("rev4").cast("bigint").alias("value4"))
    )
    t = pv.agg(F.sum("value4").cast("decimal(38,0)").alias("grand"))
    return (
        pv.crossJoin(F.broadcast(t))
        .where(F.col("value4").cast("decimal(38,0)") * 1000 > F.col("grand"))
        .select("partkey", "value4")
    )


# --------------------------------------------------------------------------
# q242 — TPC-H Q15 shape: top supplier. Revenue per supplier over 1996Q1
# and the supplier(s) achieving the maximum — tie-safe by joining the
# per-supplier table against its own one-row max (broadcast), exactly
# the view + max subquery shape of Q15 without the view. One corpus
# fold on suppkey; the date filter prunes the scan.
# --------------------------------------------------------------------------


@register(
    "q242_top_supplier",
    oracle="""
WITH sr AS (
  SELECT li.l_suppkey AS suppkey,
         CAST(sum(CAST(CAST(li.l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(li.l_discount AS DECIMAL(4,2)))
                       * 10000 AS BIGINT)) AS BIGINT) AS rev4
  FROM lineitem li
  WHERE li.l_shipdate >= TIMESTAMP '1996-01-01'
    AND li.l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY li.l_suppkey
),
m AS (SELECT max(rev4) AS best FROM sr)
SELECT s.s_suppkey, s.s_name, sr.rev4
FROM sr JOIN m ON sr.rev4 = m.best
JOIN supplier s ON s.s_suppkey = sr.suppkey
""",
    doc="TPC-H Q15 shape: per-supplier 1996Q1 revenue and the tie-safe "
    "argmax supplier(s) via a broadcast one-row max join — one corpus "
    "fold on suppkey, date filter pushed to the scan",
    tags=("relational", "join", "aggregate"),
)
def q242_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("l_suppkey", (revenue_expr() * 10000).cast("bigint").alias("rev4"))
    )
    sr = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum("rev4").cast("bigint").alias("rev4")
    )
    m = sr.agg(F.max("rev4").alias("best"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sr.join(F.broadcast(m), sr.rev4 == F.col("best"))
        .join(F.broadcast(s), sr.suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "rev4")
    )


# --------------------------------------------------------------------------
# q243 — TPC-H Q20 shape: dominant-supplier detection. NATION_2
# suppliers who, for at least one PROMO-type part, shipped more than
# half of that part's total 1996 volume. The (supplier, part) and
# per-part quantity tables come from the same single fold of the 1996
# PROMO lines (one shuffle); the per-part totals ride a second
# aggregation of the already-reduced pair table, joined back on the
# part key; the final supplier list is a LEFT SEMI against the
# qualifying pairs.
# --------------------------------------------------------------------------


@register(
    "q243_dominant_suppliers",
    oracle="""
WITH pl AS (
  SELECT li.l_suppkey AS suppkey, li.l_partkey AS partkey,
         CAST(sum(CAST(round(li.l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem li
  JOIN part p ON p.p_partkey = li.l_partkey AND p.p_type = 'PROMO'
  WHERE li.l_shipdate >= TIMESTAMP '1996-01-01'
    AND li.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY li.l_suppkey, li.l_partkey
),
pt AS (SELECT partkey, CAST(sum(qty) AS BIGINT) AS total_qty
       FROM pl GROUP BY partkey),
qual AS (
  SELECT DISTINCT pl.suppkey
  FROM pl JOIN pt ON pt.partkey = pl.partkey
  WHERE pl.qty * 2 > pt.total_qty
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_2'
JOIN qual ON qual.suppkey = s.s_suppkey
""",
    doc="TPC-H Q20 shape: NATION_2 suppliers shipping >50% of some PROMO "
    "part's 1996 volume — one fold to (supplier, part) quantities, "
    "per-part totals from the reduced table, LEFT SEMI back to the "
    "supplier dimension",
    tags=("relational", "join", "aggregate"),
)
def q243_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select(
            "l_suppkey",
            "l_partkey",
            F.round("l_quantity").cast("bigint").alias("qty"),
        )
    )
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    pl = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy(
            F.col("l_suppkey").alias("suppkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(F.sum("qty").cast("bigint").alias("qty"))
    )
    pt = pl.groupBy("partkey").agg(
        F.sum("qty").cast("bigint").alias("total_qty")
    )
    qual = (
        pl.join(pt, "partkey")
        .where(F.col("qty") * 2 > F.col("total_qty"))
        .select("suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    return (
        s.join(
            F.broadcast(n.select("n_nationkey")),
            s.s_nationkey == F.col("n_nationkey"),
            "left_semi",
        )
        .join(qual, s.s_suppkey == qual.suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# --------------------------------------------------------------------------
# q262 — hierarchical subtree rollup over the synthetic decimal-digit
# part tree (parent(k) = k div 10): every ancestor chain materializes in
# CLOSED FORM — anc = k div 10^i for a fixed 19-step power table
# exploded per part (no iterative self-joins, no driver-side recursion;
# chains are ≤ 19 long because bigint keys have ≤ 19 decimal digits) —
# then one groupBy on the ancestor sums descendant count
# and retail value. The oracle proves the closed form equals true
# recursion: DuckDB computes the same chains with WITH RECURSIVE.
# Output: the depth-≤-2 internal nodes (partkey < 100) — bounded.
# --------------------------------------------------------------------------


@register(
    "q262_subtree_rollup",
    oracle="""
WITH RECURSIVE anc AS (
  SELECT p_partkey AS node,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
         p_partkey AS a
  FROM part
  UNION ALL
  SELECT node, cents, a // 10 FROM anc WHERE a // 10 > 0
),
roll AS (
  SELECT a AS node, CAST(count(*) AS BIGINT) AS n_desc,
         CAST(sum(cents) AS BIGINT) AS subtree_cents
  FROM anc GROUP BY a
)
SELECT node, n_desc, subtree_cents
FROM roll WHERE node < 100
""",
    doc="hierarchical subtree rollup over the parent(k)=k div 10 part "
    "tree: ancestor chains in closed form (fixed 19-entry power-of-10 "
    "explode, no iteration), one ancestor groupBy for descendant count "
    "+ subtree retail cents; oracle proves equivalence to WITH "
    "RECURSIVE; bounded depth<=2 output",
    tags=("relational", "aggregate", "graph"),
)
def q262_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    pows = F.array(*[F.lit(10**i).cast("bigint") for i in range(19)])
    anc = p.select(
        "node",
        "cents",
        F.explode(pows).alias("pw"),
    ).select(
        "node", "cents", "pw", F.expr("node div pw").alias("a")
    ).where(
        # every node is its own ancestor (pw == 1), even partkey 0 whose
        # quotient is not positive; deeper quotients only while > 0
        (F.col("pw") == 1) | (F.col("a") > 0)
    )
    return (
        anc.groupBy(F.col("a").alias("node"))
        .agg(
            F.count("*").cast("bigint").alias("n_desc"),
            F.sum("cents").cast("bigint").alias("subtree_cents"),
        )
        .where(F.col("node") < 100)
    )


# --------------------------------------------------------------------------
# q263 — record linkage (entity resolution) between the customer table
# and a deterministically-corrupted copy: one digit of the name tail
# (position ck%6+4, i.e. somewhere in the last six digits) is replaced
# with 'X', so a corrupted name never collides exactly with a DIFFERENT
# clean name (clean tails are all digits). Candidates come from 2-of-3
# chunk blocking over the edit region with the high-order digits pinned
# in every key — tail[1:3] plus two of the three 2-digit chunks at
# positions 4-5 / 6-7 / 8-9 — so a single edit always leaves one key
# intact (guaranteed recall) and every block shares 7 of 9 digits:
# block size ≤ ~100 at ANY corpus size, candidates O(N), never
# quadratic. Verification is levenshtein ≤ 1 PLUS agreement on the
# carried account-balance attribute (block on name, verify on
# attributes — name edits alone are ambiguous on a dense key space);
# the 1:1 layer keeps
# MUTUAL best matches under the deterministic (distance, key) order.
# Ambiguity is real (a dirty name is edit-1 from up to 10 clean
# neighbors differing only at the X'd digit) — the audit reports how
# much of it the mutual-best rule resolves (n_true_matches / n_links).
# --------------------------------------------------------------------------


@register(
    "q263_record_linkage",
    oracle="""
WITH clean AS (
  SELECT c_custkey AS ck, c_name AS name, substr(c_name, 10, 9) AS tail,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
dirty AS (
  SELECT ck AS dk, cents AS dcents,
         'Customer#'
           || substr(tail, 1, CAST(ck % 6 + 3 AS BIGINT)) || 'X'
           || substr(tail, CAST(ck % 6 + 5 AS BIGINT)) AS dname
  FROM clean
),
dnamed AS (SELECT dk, dcents, dname, substr(dname, 10, 9) AS dtail
           FROM dirty),
ckeys AS (
  SELECT ck, name, cents,
         substr(tail, 1, 3) || substr(tail, 4, 2) || substr(tail, 6, 2)
           AS kab,
         substr(tail, 1, 3) || substr(tail, 4, 2) || substr(tail, 8, 2)
           AS kac,
         substr(tail, 1, 3) || substr(tail, 6, 2) || substr(tail, 8, 2)
           AS kbc
  FROM clean
),
dkeys AS (
  SELECT dk, dcents, dname,
         substr(dtail, 1, 3) || substr(dtail, 4, 2) || substr(dtail, 6, 2)
           AS kab,
         substr(dtail, 1, 3) || substr(dtail, 4, 2) || substr(dtail, 8, 2)
           AS kac,
         substr(dtail, 1, 3) || substr(dtail, 6, 2) || substr(dtail, 8, 2)
           AS kbc
  FROM dnamed
),
cand AS (
  SELECT DISTINCT ck, name, cents, dk, dname, dcents FROM (
    SELECT c.ck, c.name, c.cents, d.dk, d.dname, d.dcents
    FROM ckeys c JOIN dkeys d ON c.kab = d.kab
    UNION ALL
    SELECT c.ck, c.name, c.cents, d.dk, d.dname, d.dcents
    FROM ckeys c JOIN dkeys d ON c.kac = d.kac
    UNION ALL
    SELECT c.ck, c.name, c.cents, d.dk, d.dname, d.dcents
    FROM ckeys c JOIN dkeys d ON c.kbc = d.kbc
  )
),
ver AS (
  SELECT ck, dk, levenshtein(name, dname) AS lev
  FROM cand
  WHERE levenshtein(name, dname) <= 1 AND cents = dcents
),
lbest AS (
  SELECT ck, min(lev * 10000000000 + dk) AS lb FROM ver GROUP BY ck
),
rbest AS (
  SELECT dk, min(lev * 10000000000 + ck) AS rb FROM ver GROUP BY dk
),
mutual AS (
  SELECT v.ck, v.dk
  FROM ver v
  JOIN lbest l ON l.ck = v.ck AND l.lb = v.lev * 10000000000 + v.dk
  JOIN rbest r ON r.dk = v.dk AND r.rb = v.lev * 10000000000 + v.ck
)
SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT count(*) FROM ver) AS BIGINT) AS n_verified,
       CAST((SELECT count(*) FROM mutual) AS BIGINT) AS n_matched,
       CAST((SELECT count(*) FROM mutual WHERE ck = dk) AS BIGINT)
         AS n_true_matches
""",
    doc="record linkage vs a one-char-corrupted customer copy ('X' at a "
    "key-dependent digit, so no cross exact collisions): 2-of-3 chunk "
    "blocking over the edit region with high digits pinned (single "
    "edit always preserves a key; blocks <= ~100 at any scale), "
    "levenshtein<=1 verify, mutual-best 1:1 assignment — audit counts "
    "incl. true-match recovery",
    tags=("relational", "dedup", "join", "audit"),
)
def q263_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("name"),
        F.substring("c_name", 10, 9).alias("tail"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    dirty = cust.select(
        F.col("ck").alias("dk"),
        F.col("cents").alias("dcents"),
        F.concat(
            F.lit("Customer#"),
            F.expr("substr(tail, 1, cast(ck % 6 + 3 as int))"),
            F.lit("X"),
            F.expr("substr(tail, cast(ck % 6 + 5 as int))"),
        ).alias("dname"),
    ).withColumn("dtail", F.substring("dname", 10, 9))

    def keys(df, tail_col, pfx):
        t = F.col(tail_col)
        return df.select(
            "*",
            F.concat(
                F.substring(t, 1, 3),
                F.substring(t, 4, 2),
                F.substring(t, 6, 2),
            ).alias(f"{pfx}kab"),
            F.concat(
                F.substring(t, 1, 3),
                F.substring(t, 4, 2),
                F.substring(t, 8, 2),
            ).alias(f"{pfx}kac"),
            F.concat(
                F.substring(t, 1, 3),
                F.substring(t, 6, 2),
                F.substring(t, 8, 2),
            ).alias(f"{pfx}kbc"),
        )

    ck = keys(cust, "tail", "c")
    dkf = keys(dirty, "dtail", "d")
    cand = None
    for kk in ("kab", "kac", "kbc"):
        part = ck.join(
            dkf, ck[f"c{kk}"] == dkf[f"d{kk}"]
        ).select("ck", "name", "cents", "dk", "dname", "dcents")
        cand = part if cand is None else cand.unionByName(part)
    # four audit aggregates consume these lineages (the q253 persist
    # discipline): without persist each branch re-runs the 3-way
    # blocking join + distinct
    cand = cand.distinct().persist()
    ver = (
        cand.where(F.col("cents") == F.col("dcents"))
        .select("ck", "dk", F.levenshtein("name", "dname").alias("lev"))
        .where(F.col("lev") <= 1)
        .persist()
    )
    key_l = (F.col("lev") * F.lit(10_000_000_000) + F.col("dk")).alias("kl")
    key_r = (F.col("lev") * F.lit(10_000_000_000) + F.col("ck")).alias("kr")
    v = ver.select("ck", "dk", "lev", key_l, key_r)
    lbest = v.groupBy("ck").agg(F.min("kl").alias("lb"))
    rbest = v.groupBy("dk").agg(F.min("kr").alias("rb"))
    mutual = (
        v.join(lbest, "ck")
        .where(F.col("kl") == F.col("lb"))
        .join(rbest, "dk")
        .where(F.col("kr") == F.col("rb"))
        .select("ck", "dk")
    )
    nc = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    nv = ver.agg(F.count("*").cast("bigint").alias("n_verified"))
    nm = mutual.agg(F.count("*").cast("bigint").alias("n_matched"))
    nt = mutual.where(F.col("ck") == F.col("dk")).agg(
        F.count("*").cast("bigint").alias("n_true_matches")
    )
    return (
        nc.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nt))
    )


# --------------------------------------------------------------------------
# q264 — declarative data-quality suite over orders, dbt-test style, in
# as few passes as the checks allow: one conditional-aggregate corpus
# pass carries every row-local rule (non-null keys, accepted status
# vocabulary, date-range sanity, non-negative totals), the key-
# uniqueness check is one distinct-count against the row count, and
# the orphan-FK check is one broadcast-probed anti-join count. Output
# is the long-format invariant table (check_name, violations, ok) the
# repo's audit queries standardize on — a failed rule names itself.
# --------------------------------------------------------------------------


@register(
    "q264_dq_suite",
    oracle="""
WITH rowpass AS (
  SELECT
    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_key,
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS null_cust,
    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2030-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_date,
    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS bad_price,
    CAST(count(*) AS BIGINT) AS n
  FROM orders
),
uniq AS (
  SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_keys
  FROM orders
),
orphan AS (
  SELECT CAST(count(*) AS BIGINT) AS orphans
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
)
SELECT check_name, violations, violations = 0 AS ok FROM (
  SELECT 'orderkey_not_null' AS check_name, null_key AS violations
  FROM rowpass
  UNION ALL SELECT 'custkey_not_null', null_cust FROM rowpass
  UNION ALL SELECT 'status_accepted_values', bad_status FROM rowpass
  UNION ALL SELECT 'orderdate_in_range', bad_date FROM rowpass
  UNION ALL SELECT 'totalprice_positive', bad_price FROM rowpass
  UNION ALL SELECT 'orderkey_unique', dup_keys FROM uniq
  UNION ALL SELECT 'custkey_fk_customer', orphans FROM orphan
)
""",
    doc="declarative data-quality suite over orders (dbt-test style): "
    "row-local rules in one conditional-aggregate pass, key uniqueness "
    "as distinct-vs-count, FK orphans as one anti-join count — long-"
    "format (check_name, violations, ok) invariant table",
    tags=("relational", "audit", "aggregate"),
)
def q264_dq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    rowpass = o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_key"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_cust"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2030-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("bad_date"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("bad_price"),
    )
    uniq = o.agg(
        (F.count("*") - F.count_distinct("o_orderkey"))
        .cast("bigint")
        .alias("dup_keys")
    )
    orphan = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti"
    ).agg(F.count("*").cast("bigint").alias("orphans"))
    checks = (
        rowpass.crossJoin(F.broadcast(uniq))
        .crossJoin(F.broadcast(orphan))
        .selectExpr(
            "stack(7, "
            "'orderkey_not_null', null_key, "
            "'custkey_not_null', null_cust, "
            "'status_accepted_values', bad_status, "
            "'orderdate_in_range', bad_date, "
            "'totalprice_positive', bad_price, "
            "'orderkey_unique', dup_keys, "
            "'custkey_fk_customer', orphans"
            ") as (check_name, violations)"
        )
    )
    return checks.select(
        "check_name",
        "violations",
        (F.col("violations") == 0).alias("ok"),
    )


# --------------------------------------------------------------------------
# q270 — incremental view maintenance WITH RETRACTIONS: q100 maintains
# an aggregate under inserts; this maintains revenue/count per order
# priority under a mixed delta of inserts (+1) and deletes (−1) using
# signed multiplicities — the streaming-materialized-view algebra
# (sum(m·x) folds retractions exactly; no special delete path). Base =
# orders with key % 97 ≠ 0; delta inserts the % 97 == 0 rows and
# retracts the % 89 == 0 (non-overlapping) rows. The published row per
# priority carries the MAINTAINED state and a matches_recompute flag
# against the direct recompute of the post-delta corpus — hash-parity
# with the oracle (which recomputes directly) proves the maintenance
# algebra exact, and the flag proves it in-engine.
# --------------------------------------------------------------------------


@register(
    "q270_ivm_retractions",
    oracle="""
WITH final_corpus AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  WHERE NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS cents,
       TRUE AS matches_recompute
FROM final_corpus GROUP BY o_orderpriority
""",
    doc="incremental view maintenance with retractions: base aggregate "
    "plus a signed-multiplicity delta (inserts +1, deletes -1) folded "
    "as sum(m*x) — the streaming-materialized-view algebra; published "
    "state carries an in-engine matches_recompute flag and hash-parity "
    "with the oracle's direct recompute proves exactness",
    tags=("relational", "aggregate", "streaming-twin", "audit"),
)
def q270_ivm_retractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    base = o.where(F.col("o_orderkey") % 97 != 0)
    inserts = o.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "m", F.lit(1).cast("bigint")
    )
    deletes = base.where(F.col("o_orderkey") % 89 == 0).withColumn(
        "m", F.lit(-1).cast("bigint")
    )
    base_agg = base.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n0"),
        F.sum("cents").cast("bigint").alias("c0"),
    )
    delta_agg = inserts.unionByName(deletes).groupBy("o_orderpriority").agg(
        F.sum("m").cast("bigint").alias("dn"),
        F.sum(F.col("m") * F.col("cents")).cast("bigint").alias("dc"),
    )
    maintained = (
        base_agg.join(delta_agg, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("n0"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_orders"),
            (
                F.coalesce(F.col("c0"), F.lit(0))
                + F.coalesce(F.col("dc"), F.lit(0))
            )
            .cast("bigint")
            .alias("cents"),
        )
        .where(F.col("n_orders") > 0)
    )
    recompute = (
        o.where(
            ~((F.col("o_orderkey") % 89 == 0) & (F.col("o_orderkey") % 97 != 0))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("rn"),
            F.sum("cents").cast("bigint").alias("rc"),
        )
    )
    return (
        maintained.join(F.broadcast(recompute), "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            "cents",
            (
                (F.col("n_orders") == F.col("rn"))
                & (F.col("cents") == F.col("rc"))
            ).alias("matches_recompute"),
        )
    )


# --------------------------------------------------------------------------
# q274 — revenue concentration per nation: the exact Gini coefficient of
# per-customer order spend WITHIN each nation — "is this market a few
# whales or a broad base", per market. Per-group Gini needs per-group
# running rank sums; the grouped prefix operator (operators/ranking.py:
# grouped_prefix_sums — group key prepended to the range partitioning
# and both window layers) delivers them with bounded cells for millions
# of groups of any size, and the rank-sum algebra runs per group in
# exact DECIMAL(38,0) (operators/rankstats.py:gini_grouped).
# --------------------------------------------------------------------------


@register(
    "q274_gini_by_nation",
    oracle="""
WITH spend AS (
  SELECT n.n_name AS nation, o.o_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name, o.o_custkey
),
g AS (
  SELECT nation, cents AS v, CAST(count(*) AS BIGINT) AS cnt
  FROM spend WHERE cents IS NOT NULL GROUP BY nation, cents
),
p AS (
  SELECT nation, v, cnt,
         coalesce(sum(cnt) OVER (PARTITION BY nation ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS b
  FROM g
),
m AS (
  SELECT nation,
         CAST(sum(cnt) AS HUGEINT) AS n,
         CAST(sum(CAST(v AS HUGEINT) * cnt) AS HUGEINT) AS sx,
         CAST(sum(CAST(v AS HUGEINT)
                  * (cnt * b + (cnt * (cnt + 1)) // 2)) AS HUGEINT) AS srx
  FROM p GROUP BY nation
)
SELECT nation, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS total,
       CAST((2 * srx - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
         AS gini_ppm
FROM m WHERE sx > 0
""",
    doc="exact per-nation Gini of per-customer order spend: grouped "
    "prefix sums (group key in the range partitioning and both window "
    "layers - bounded cells for any group count/size) + the exact "
    "DECIMAL(38,0) rank-sum algebra per group",
    tags=("relational", "aggregate", "ranking", "analytics"),
)
def q274_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        gini_grouped,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "o_custkey")
        .agg(F.sum("cents").cast("bigint").alias("spend"))
    )
    return gini_grouped(spend, "nation", "spend")


# --------------------------------------------------------------------------
# q276 — per-nation Spearman rank correlation between a customer's
# stated account balance and their actual total order spend: "does
# balance track behavior, per market" — a monotonicity answer the
# per-nation Pearson would distort under skewed spend. Grouped doubled
# ranks ride the grouped prefix operator (no per-group buffer); the
# per-group moments and single closed-form float follow the q214/q233
# determinism discipline (operators/rankstats.py:spearman_grouped).
# --------------------------------------------------------------------------


@register(
    "q276_spearman_balance_spend",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey, c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sp
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
),
named AS (
  SELECT n.n_name AS nation, s.c_custkey, s.bal, s.sp
  FROM spend s JOIN nation n ON n.n_nationkey = s.c_nationkey
  WHERE s.bal IS NOT NULL AND s.sp IS NOT NULL
),
gx AS (SELECT nation, bal, CAST(count(*) AS BIGINT) AS n
       FROM named GROUP BY nation, bal),
rx AS (
  SELECT nation, bal,
         2 * coalesce(sum(n) OVER (PARTITION BY nation ORDER BY bal
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) + n + 1 AS r2
  FROM gx
),
gy AS (SELECT nation, sp, CAST(count(*) AS BIGINT) AS n
       FROM named GROUP BY nation, sp),
ry AS (
  SELECT nation, sp,
         2 * coalesce(sum(n) OVER (PARTITION BY nation ORDER BY sp
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) + n + 1 AS r2
  FROM gy
),
r AS (
  SELECT named.nation, CAST(rx.r2 AS BIGINT) AS a,
         CAST(ry.r2 AS BIGINT) AS b
  FROM named
  JOIN rx ON rx.nation = named.nation AND rx.bal = named.bal
  JOIN ry ON ry.nation = named.nation AND ry.sp = named.sp
),
m AS (
  SELECT nation,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(a * b) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(a * a) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(b * b) AS DECIMAL(38,0)) AS syy
  FROM r GROUP BY nation
)
SELECT nation, CAST(n AS BIGINT) AS n,
       CAST(sxy - n * (n + 1) * (n + 1) AS DOUBLE)
         / (sqrt(CAST(sxx - n * (n + 1) * (n + 1) AS DOUBLE))
            * sqrt(CAST(syy - n * (n + 1) * (n + 1) AS DOUBLE))) AS rho
FROM m
WHERE CAST(sxx - n * (n + 1) * (n + 1) AS HUGEINT) > 0
  AND CAST(syy - n * (n + 1) * (n + 1) AS HUGEINT) > 0
""",
    doc="per-nation Spearman rank correlation between customer account "
    "balance and total order spend: grouped doubled ranks on the "
    "grouped prefix operator (no per-group buffer), per-group exact "
    "DECIMAL(38,0) moments via the centered identity (exact to "
    "~2.9e12 rows per group), one closed-form float per group",
    tags=("relational", "aggregate", "ranking", "analytics"),
)
def q276_spearman_balance_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        spearman_grouped,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey", "bal")
        .agg(F.sum("cents").cast("bigint").alias("sp"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "bal", "sp")
    )
    return spearman_grouped(spend, "nation", "bal", "sp")


# --------------------------------------------------------------------------
# q280 — related-items recommendation via personalized PageRank: random
# walks over the co-purchase graph restart at a SEED basket (parts with
# key % 50 == 0), so mass concentrates on items co-bought with the
# seeds — top-50 non-seed recommendations by final integer mass.
# Identical Pregel-on-DataFrames step shape to q143 (one edge shuffle
# join + one dst aggregation per round) with seed-only teleport and
# seed-only initial mass (operators/graph.py:
# personalized_pagerank_integer); integer flooring keeps the oracle
# hash exact through all 5 unrolled iterations.
# --------------------------------------------------------------------------

_PPR_ITERS = 5


def _ppr_oracle(iterations: int) -> str:
    step = """
r{t} AS (
  SELECT n.node, CAST(n.is_seed * {teleport} + coalesce(s.c, 0) AS BIGINT)
           AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum((p.r * 85) // (100 * d.outdeg)) AS BIGINT) AS c
    FROM edges e
    JOIN r{p} p ON p.node = e.src
    JOIN deg d ON d.node = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)"""
    chain = ",".join(
        step.format(t=t, p=t - 1, teleport=_PR_TELEPORT)
        for t in range(1, iterations + 1)
    )
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
),
deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT node,
                 CASE WHEN node % 50 = 0 THEN 1 ELSE 0 END AS is_seed
          FROM deg),
r0 AS (SELECT node, CAST(is_seed * {_PR_QUANTUM} AS BIGINT) AS r
       FROM nodes),
{chain}
SELECT r.node AS part_key, r.r AS score,
       CAST(row_number() OVER (ORDER BY r.r DESC, r.node ASC) AS BIGINT)
         AS rnk
FROM r{iterations} r JOIN nodes n ON n.node = r.node
WHERE n.is_seed = 0
QUALIFY rnk <= 50
"""


@register(
    "q280_related_items_ppr",
    oracle=_ppr_oracle(_PPR_ITERS),
    doc="related-items recommendation: exact-integer PERSONALIZED "
    "PageRank (5 iterations, seed basket = parts with key % 50 == 0, "
    "teleport and initial mass on seeds only) over the symmetric "
    "co-purchase graph; top-50 non-seed items by final integer mass — "
    "the q143 Pregel step shape with a seeded restart vector",
    tags=("relational", "graph", "iterative", "analytics"),
)
def q280_related_items_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.graph import (
        personalized_pagerank_integer,
    )

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst")
    )
    edges = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .where(F.col("node") % 50 == 0)
    )
    ranks = personalized_pagerank_integer(
        edges, seeds, iterations=_PPR_ITERS
    )
    non_seed = ranks.join(
        seeds.withColumnRenamed("node", "s"),
        ranks.node == F.col("s"),
        "left_anti",
    )
    w = Window.orderBy(F.col("r").desc(), F.col("node").asc())
    return (
        non_seed.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 50)
        .select(
            F.col("node").alias("part_key"),
            F.col("r").alias("score"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# q281 — degree assortativity of the co-purchase graph: the Pearson
# correlation of (source degree, destination degree) over all directed
# edges — do popular items co-occur with popular items (assortative,
# r > 0) or with niche ones (disassortative, r < 0)? The network-
# topology diagnostic behind sampling and partitioning choices for the
# q143/q280 walks. Degrees come from one groupBy; both endpoints'
# degrees join onto the edge list (AQE broadcasts when the vocabulary
# fits); the correlation is five
# exact DECIMAL(38,0) moments and one closed-form float (the q214
# discipline) — nothing iterative, exact at any scale.
# --------------------------------------------------------------------------


@register(
    "q281_degree_assortativity",
    oracle="""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY src),
p AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges e
  JOIN deg ds ON ds.node = e.src
  JOIN deg dd ON dd.node = e.dst
),
m AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
  FROM p
)
SELECT CAST(n AS BIGINT) AS n_edges,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
FROM m
""",
    doc="degree assortativity of the symmetric co-purchase graph: "
    "Pearson of (src degree, dst degree) over all edges from five "
    "exact DECIMAL(38,0) moments and one closed-form float — the "
    "network-topology diagnostic, non-iterative",
    tags=("relational", "graph", "aggregate"),
)
def q281_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst")
    )
    edges = (
        a.join(b, "k")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    # the degree table is vocabulary-sized; no forced broadcast — AQE
    # picks broadcast when it fits and falls back to shuffle when the
    # vocabulary outgrows the threshold
    p = (
        edges.join(
            deg.withColumnRenamed("d", "x"), edges.src == F.col("node")
        )
        .drop("node")
        .join(
            deg.withColumnRenamed("d", "y"), edges.dst == F.col("node")
        )
        .select("x", "y")
    )
    dec38 = "decimal(38,0)"
    m = p.agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("x").cast(dec38).alias("sx"),
        F.sum("y").cast(dec38).alias("sy"),
        # cast BEFORE multiply: degree products sum in decimal, not
        # bigint (a bigint sum of O(deg^2) terms overflows at scale)
        F.sum(F.col("x").cast(dec38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec38) * F.col("y")).alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_edges"),
        (
            F.expr("cast(n * sxy - sx * sy as double)")
            / (
                F.sqrt(F.expr("cast(n * sxx - sx * sx as double)"))
                * F.sqrt(F.expr("cast(n * syy - sy * sy as double)"))
            )
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# q282 — bag-semantics set operations (INTERSECT ALL / EXCEPT ALL).
# q08 pinned the DISTINCT-semantics forms; these are the multiset forms
# (multiplicity = min(m_l, m_r) for INTERSECT ALL, max(0, m_l - m_r) for
# EXCEPT ALL), exercised through the DataFrame API (intersectAll /
# exceptAll). The output reports the surviving per-key multiplicity, so
# the oracle check is sensitive to the bag arithmetic, not just counts.
# Scale shape: Spark rewrites both ops as one union + one count
# aggregate + a generate-replication — a single shuffle on the row
# value, linear in input; no pairwise expansion. Reference: no set ops
# at all (SURVEY §2.8 — its only aggregation is count(),
# App.scala:239-249).
# --------------------------------------------------------------------------


@register(
    "q282_bag_set_ops",
    oracle="""
SELECT 'intersect_all' AS op, custkey, CAST(count(*) AS BIGINT) AS multiplicity
FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
GROUP BY custkey
UNION ALL
SELECT 'except_all' AS op, custkey, CAST(count(*) AS BIGINT) AS multiplicity
FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
GROUP BY custkey
""",
    doc="INTERSECT ALL / EXCEPT ALL bag semantics via intersectAll/"
    "exceptAll: per-key surviving multiplicity (min(m_l,m_r) / "
    "max(0,m_l-m_r)) — the multiset complement of q08's distinct forms",
    tags=("relational", "setops"),
)
def q282_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    left = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    right = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey").alias("custkey"))

    def multiplicities(df: DataFrame, op: str) -> DataFrame:
        return df.groupBy("custkey").agg(
            F.count("*").cast("bigint").alias("multiplicity")
        ).select(F.lit(op).alias("op"), "custkey", "multiplicity")

    return multiplicities(left.intersectAll(right), "intersect_all").unionByName(
        multiplicities(left.exceptAll(right), "except_all")
    )


# --------------------------------------------------------------------------
# q283 — native recursive CTE (WITH RECURSIVE, Spark 4 front end) walking
# the synthetic parent(k) = k div 10 part digit-tree to the root and
# rolling up descendant count + max depth per shallow ancestor. q262
# proves the same chain semantics via a CLOSED-FORM power-of-10 explode;
# this entry pins the native iterative front end itself against DuckDB's
# recursive evaluator. Scale shape: each recursion step is a narrow
# projection + filter on the previous step's output (no joins), and the
# depth is bounded by the key's digit count — ⌈log10 N⌉ iterations
# (≤ 19 for bigint keys), each linear; the final rollup is one groupBy.
# Reference: no recursion of any kind (SURVEY §2.8).
# --------------------------------------------------------------------------


@register(
    "q283_recursive_cte_sql",
    oracle="""
WITH RECURSIVE walk(node, anc, depth) AS (
  SELECT p_partkey, p_partkey, CAST(0 AS INT) FROM part
  UNION ALL
  SELECT node, anc // 10, depth + 1 FROM walk WHERE anc // 10 > 0
)
SELECT anc AS node, CAST(count(*) AS BIGINT) AS n_desc,
       CAST(max(depth) AS INT) AS max_depth
FROM walk GROUP BY anc HAVING anc < 100
""",
    doc="native WITH RECURSIVE ancestor walk over the parent(k)=k div 10 "
    "part tree (descendant count + max depth per ancestor < 100); the "
    "iterative twin of q262's closed-form explode, pinning Spark 4's "
    "recursive-CTE front end against DuckDB's recursive evaluator",
    tags=("relational", "aggregate", "sql", "graph"),
)
def q283_recursive_cte_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "part").createOrReplaceTempView("part_rcte_v")
    return spark.sql("""
        WITH RECURSIVE walk(node, anc, depth) AS (
          SELECT p_partkey, p_partkey, CAST(0 AS INT) FROM part_rcte_v
          UNION ALL
          SELECT node, anc div 10, depth + 1 FROM walk WHERE anc div 10 > 0
        )
        SELECT anc AS node, CAST(count(*) AS BIGINT) AS n_desc,
               CAST(max(depth) AS INT) AS max_depth
        FROM walk GROUP BY anc HAVING anc < 100
    """)


# --------------------------------------------------------------------------
# q284 — grouping-sets edge forms beyond q51: an EMPTY grouping set and a
# DUPLICATE set in the same clause (SQL bag semantics — the duplicate set
# emits its rows twice), grouping by an EXPRESSION (NULLIF) that
# manufactures data NULLs, and GROUPING_ID() (the composite bitmask,
# vs q51's per-column GROUPING() flags) disambiguating those data NULLs
# from subtotal NULLs: a data-NULL status row carries gid 0/1 while the
# status-subtotal rows carry the grouping bit. Scale shape: grouping
# sets expand each input row once per set (4× here) BEFORE the
# aggregate; map-side partial aggregation collapses the expansion, so
# the shuffle carries only group cells — linear, one pass.
# --------------------------------------------------------------------------


@register(
    "q284_grouping_sets_edge",
    oracle="""
SELECT NULLIF(o_orderstatus, 'P') AS status,
       o_orderpriority AS priority,
       CAST(GROUPING_ID(NULLIF(o_orderstatus, 'P'), o_orderpriority) AS INT)
         AS gid,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((NULLIF(o_orderstatus,'P'), o_orderpriority),
                        (NULLIF(o_orderstatus,'P')),
                        (NULLIF(o_orderstatus,'P')),
                        ())
""",
    doc="grouping-sets edge forms: empty set + duplicate set (bag "
    "semantics: subtotal rows emitted twice) + expression grouping key "
    "(NULLIF manufactures data NULLs) + GROUPING_ID bitmask "
    "disambiguation of data NULLs from subtotal NULLs",
    tags=("relational", "agg", "sql"),
)
def q284_grouping_sets_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gse_v")
    return spark.sql("""
        SELECT NULLIF(o_orderstatus, 'P') AS status,
               o_orderpriority AS priority,
               CAST(GROUPING_ID(NULLIF(o_orderstatus, 'P'), o_orderpriority)
                    AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders_gse_v
        GROUP BY GROUPING SETS ((NULLIF(o_orderstatus,'P'), o_orderpriority),
                                (NULLIF(o_orderstatus,'P')),
                                (NULLIF(o_orderstatus,'P')),
                                ())
    """)


# --------------------------------------------------------------------------
# q285 — the TABLESAMPLE clause, beside the md5-deterministic samplers
# (q24 family). Seeded engine sampling is deterministic WITHIN an engine
# (given seed + partition layout) but not reproducible ACROSS engines —
# DuckDB cannot replay Spark's per-partition RNG — so the oracle pins
# PROPERTIES of the sample instead of its rows, each reported as a
# concrete value the driver hash-checks:
#   rows_clause_n            TABLESAMPLE (50 ROWS) is a global limit →
#                            exactly least(50, N) rows (exact value);
#   repeat_diff              the same REPEATABLE(42) sample drawn twice
#                            EXCEPT ALL's to empty (seeded determinism);
#   non_subset               sample EXCEPT ALL table is empty (sampling
#                            without replacement draws only real rows);
#   bernoulli_within_bounds  |n − pN| ≤ 6·sqrt(p(1−p)N) + 8 — a ≥6σ
#                            Chernoff envelope, robust to partition-
#                            layout drift at any SF.
# Scale shape: sampling is scan-local (a per-partition filter on the
# seeded RNG stream — no shuffle); every check aggregates to one row.
# --------------------------------------------------------------------------


@register(
    "q285_tablesample_clause",
    oracle="""
SELECT 'rows_clause_n' AS chk, CAST(least(50, count(*)) AS BIGINT) AS val
FROM customer
UNION ALL SELECT 'repeat_diff', 0
UNION ALL SELECT 'non_subset', 0
UNION ALL SELECT 'bernoulli_within_bounds', 1
""",
    doc="TABLESAMPLE clause (n ROWS + PERCENT REPEATABLE forms) checked "
    "by sample properties: exact global-limit count, seeded-repeat "
    "stability, subset containment, and a 6-sigma Chernoff envelope on "
    "the Bernoulli fraction — cross-engine RNGs differ, so the oracle "
    "pins the properties, not the sampled rows",
    tags=("relational", "sampling", "sql"),
)
def q285_tablesample_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_tsmp_v"
    )
    return spark.sql("""
        SELECT 'rows_clause_n' AS chk, CAST(count(*) AS BIGINT) AS val
        FROM (SELECT * FROM customer_tsmp_v TABLESAMPLE (50 ROWS))
        UNION ALL
        SELECT 'repeat_diff' AS chk, CAST(count(*) AS BIGINT) AS val FROM (
          SELECT c_custkey FROM customer_tsmp_v
            TABLESAMPLE (20 PERCENT) REPEATABLE (42)
          EXCEPT ALL
          SELECT c_custkey FROM customer_tsmp_v
            TABLESAMPLE (20 PERCENT) REPEATABLE (42))
        UNION ALL
        SELECT 'non_subset' AS chk, CAST(count(*) AS BIGINT) AS val FROM (
          SELECT c_custkey FROM customer_tsmp_v
            TABLESAMPLE (20 PERCENT) REPEATABLE (42)
          EXCEPT ALL
          SELECT c_custkey FROM customer_tsmp_v)
        UNION ALL
        SELECT 'bernoulli_within_bounds' AS chk,
          CAST(CASE WHEN abs(ns - 0.2 * nt) <= 6 * sqrt(0.16 * nt) + 8
               THEN 1 ELSE 0 END AS BIGINT) AS val
        FROM (SELECT
          (SELECT count(*) FROM customer_tsmp_v
             TABLESAMPLE (20 PERCENT) REPEATABLE (42)) AS ns,
          (SELECT count(*) FROM customer_tsmp_v) AS nt)
    """)


# --------------------------------------------------------------------------
# q286 — unpivot (wide → long reshape), the inverse of the pivot entry
# (q50): the two measure columns melt into (key, measure, val) rows via
# the DataFrame ``unpivot`` API (SQL ``UNPIVOT``'s engine form). Scale
# shape: unpivot is a narrow per-row Expand (one output row per measure,
# no shuffle at all — the plan is scan → generate); measures must share
# one type, so both are cast to bigint (retail price as exact cents).
# Reference: no reshape ops (SURVEY §2.8).
# --------------------------------------------------------------------------


@register(
    "q286_unpivot_measures",
    oracle="""
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS BIGINT) AS val
FROM part
UNION ALL
SELECT p_partkey, 'cents' AS measure,
       CAST(round(p_retailprice * 100) AS BIGINT) AS val
FROM part
""",
    doc="unpivot/melt wide measures into (key, measure, val) long form — "
    "the inverse of q50's pivot; a shuffle-free per-row Expand, measures "
    "unified to bigint (price as exact cents)",
    tags=("relational", "reshape"),
)
def q286_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("bigint").alias("p_size"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
    )
    return p.unpivot(["p_partkey"], ["p_size", "cents"], "measure", "val")


# --------------------------------------------------------------------------
# q288 — k-anonymity / l-diversity audit (operators/profiling.py:
# k_anonymity_audit): the re-identification-risk report over the customer
# quasi-identifier tuple (nation, market segment), sensitive attribute =
# account balance in exact cents. One row per observed equivalence-class
# SIZE — never per class — so the report stays O(distinct sizes) at any
# corpus scale. Completes the privacy family: q56 redacts direct PII,
# q227 noises released aggregates, q288 measures what raw quasi
# identifiers already leak. Reference: no governance ops (SURVEY §2.8).
# --------------------------------------------------------------------------


@register(
    "q288_k_anonymity_audit",
    oracle="""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT))
              AS BIGINT) AS l
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT n AS class_size,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(n) AS BIGINT) AS n_rows,
       n < 10 AS risky,
       CAST(min(l) AS BIGINT) AS min_l
FROM cls GROUP BY n ORDER BY n
""",
    doc="k-anonymity/l-diversity audit: equivalence classes of the "
    "(nation, mktsegment) quasi-identifier tuple, reported as a "
    "class-size distribution with the k=10 risk flag and the worst "
    "sensitive-attribute diversity per size — one shuffle on the quasi "
    "tuple, output bounded by distinct class sizes",
    tags=("relational", "privacy", "profiling"),
)
def q288_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import (
        k_anonymity_audit,
    )

    c = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    return k_anonymity_audit(
        c, ["c_nationkey", "c_mktsegment"], "bal_cents", k=10
    )
