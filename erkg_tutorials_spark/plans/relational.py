"""Relational query surface (SURVEY.md §2.2-§2.9 operators) over the
driver testdata, each with a DuckDB oracle twin.

Money sums use exact integer-cents math (see functions/exact_math.py)
so double aggregation order can never flip a rounded digit between
engines. Computed integer columns are cast to BIGINT on both sides so
schemas align.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import exact_money_sum, money_cents
from erkg_tutorials_spark.plans.registry import register


# ---------------------------------------------------------------------------
# q1 pricing summary — scan + pushed-down filter + hash agg (F-ops, A-ops)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT)                    AS sum_qty,
           SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0                AS sum_base_price,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS sum_disc_price,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000, 0) AS BIGINT)) / 1000000.0 AS sum_charge,
           ROUND(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) / (1.0 * COUNT(*)), 6)      AS avg_qty,
           ROUND(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_price,
           ROUND(SUM(CAST(ROUND(l_discount * 100, 0) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: lineitem pricing summary with exact integer-cents money aggregation."""
    li = load_tables(spark, sf_dir)["lineitem"]
    li = li.where(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
    qty = F.sum(F.round("l_quantity", 0).cast("long"))
    base_cents = F.sum(money_cents(F.col("l_extendedprice"), 100))
    disc_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge_expr = disc_expr * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qty.alias("sum_qty"),
        (base_cents / 100.0).alias("sum_base_price"),
        exact_money_sum(disc_expr, 10000).alias("sum_disc_price"),
        exact_money_sum(charge_expr, 1000000).alias("sum_charge"),
        F.round(qty / F.count("*"), 6).alias("avg_qty"),
        F.round(base_cents / 100.0 / F.count("*"), 6).alias("avg_price"),
        F.round(F.sum(money_cents(F.col("l_discount"), 100)) / 100.0 / F.count("*"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# q3 top revenue orders — 3-way join + agg + deterministic top-k (J, A, W1)
# ---------------------------------------------------------------------------
@register(
    "q3_top_orders",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_date
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top unshipped orders by revenue for a market segment before a date."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["customer"]
        .where(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"))
        .agg(exact_money_sum(rev, 10000).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q5 local-supplier revenue per nation — 6-way join (J1 shape at depth)
# ---------------------------------------------------------------------------
@register(
    "q5_region_revenue",
    """
    SELECT n_name,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: local supplier revenue per nation inside one region and year."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(exact_money_sum(rev, 10000).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# J1 — broadcast dim-lookup join (reference get_country,
# /root/reference/src/senzing_pipeline.py:34-37)
# ---------------------------------------------------------------------------
@register(
    "j1_dim_lookup",
    """
    SELECT r_name,
           COUNT(*) AS n_customers,
           ROUND(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def j1_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension lookup: customers joined to their nation and region names."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(money_cents(F.col("c_acctbal"))) / 100.0 / F.count("*"), 6).alias(
                "avg_acctbal"
            ),
        )
    )


# ---------------------------------------------------------------------------
# J2 — exact-name seed match (reference filter_senzing seed join,
# /root/reference/src/senzing_pipeline.py:375-389)
# ---------------------------------------------------------------------------
@register(
    "j2_seed_match",
    """
    WITH seeds AS (SELECT c_name AS name FROM customer WHERE c_custkey % 37 = 0)
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer JOIN seeds ON c_name = seeds.name
    """,
)
def j2_seed_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-name seed match: customer rows equi-joined to a literal seed name list."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    seeds = c.where(F.col("c_custkey") % 37 == 0).select(F.col("c_name").alias("name"))
    return c.join(F.broadcast(seeds), c["c_name"] == seeds["name"]).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# F1 — regex blocklist filter (reference filter_bearer,
# /root/reference/src/senzing_pipeline.py:83-112: 17 patterns OR-ed)
# ---------------------------------------------------------------------------
BLOCKLIST_PATTERN = "(^cold )|(bolt$)|(widget)"

@register(
    "f1_blocklist_filter",
    f"""
    SELECT p_brand, COUNT(*) AS n_parts
    FROM part
    WHERE NOT regexp_matches(lower(p_name), '{BLOCKLIST_PATTERN}')
    GROUP BY p_brand
    """,
)
def f1_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """17-regex bearer blocklist: drop customer rows whose name matches any pattern."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .where(~F.lower(F.col("p_name")).rlike(BLOCKLIST_PATTERN))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# F3 — membership predicate (reference MATCH_LEVEL_CODE isin,
# /root/reference/src/senzing_pipeline.py:252-264)
# ---------------------------------------------------------------------------
@register(
    "f3_membership_filter",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase', 'view')
    GROUP BY event_type
    """,
)
def f3_membership_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_LEVEL-style membership filter: orders restricted to a literal status/priority set."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .where(F.col("event_type").isin("click", "purchase", "view"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_money_sum(F.col("value")).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# A1 + W2 — group-count → probability distribution (reference
# generate_aliases, /root/reference/src/senzing_pipeline.py:289-305)
# ---------------------------------------------------------------------------
@register(
    "a1_alias_distribution",
    """
    WITH c AS (
      SELECT c_mktsegment AS alias, c_nationkey AS entity, COUNT(*) AS cnt
      FROM customer GROUP BY 1, 2
    )
    SELECT alias, entity, cnt,
           ROUND(cnt / (1.0 * SUM(cnt) OVER (PARTITION BY alias)), 6) AS prob
    FROM c
    """,
)
def a1_alias_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias probability distribution: per-name frequencies normalized within each nation."""
    t = load_tables(spark, sf_dir)
    counts = (
        t["customer"]
        .groupBy(F.col("c_mktsegment").alias("alias"), F.col("c_nationkey").alias("entity"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("alias")
    return counts.withColumn("prob", F.round(F.col("cnt") / F.sum("cnt").over(w), 6))


# ---------------------------------------------------------------------------
# A6 — first-non-empty / earliest pick (reference entity-name pick,
# /root/reference/src/senzing_pipeline.py:349-353)
# ---------------------------------------------------------------------------
@register(
    "a6_first_order",
    """
    WITH ranked AS (
      SELECT o_custkey, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderstatus AS first_status, o_totalprice AS first_price
    FROM ranked WHERE rn = 1
    """,
)
def a6_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-non-empty pick: each customer's earliest order by date with deterministic ties."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("first_status"),
            F.col("o_totalprice").alias("first_price"),
        )
    )


# ---------------------------------------------------------------------------
# W1 — per-group top-k (reference top-30 phrases per doc,
# /root/reference/src/analysis.py:11)
# ---------------------------------------------------------------------------
@register(
    "w1_top3_orders_per_customer",
    """
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def w1_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: each customer's 3 largest orders via a row_number window."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# ---------------------------------------------------------------------------
# W4 — argmax disambiguation (reference best-entity pick by score)
# ---------------------------------------------------------------------------
@register(
    "w4_argmax_part_supplier",
    """
    WITH rev AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS rev_ten_thousandths
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY rev_ten_thousandths DESC, l_suppkey) AS rn
      FROM rev
    )
    SELECT l_partkey, l_suppkey AS best_suppkey, rev_ten_thousandths / 10000.0 AS revenue
    FROM ranked WHERE rn = 1
    """,
)
def w4_argmax_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax per part: the single cheapest supplier row chosen by a window ordering."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(money_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)).alias(
                "rev_ten_thousandths"
            )
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(F.desc("rev_ten_thousandths"), F.asc("l_suppkey"))
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_partkey",
            F.col("l_suppkey").alias("best_suppkey"),
            (F.col("rev_ten_thousandths") / 10000.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# U1 — union + distinct (reference hop-set union,
# /root/reference/src/senzing_pipeline.py:394-397)
# ---------------------------------------------------------------------------
@register(
    "u1_union_distinct_nations",
    """
    SELECT DISTINCT n_nationkey, n_name
    FROM (SELECT c_nationkey AS k FROM customer
          UNION ALL
          SELECT s_nationkey FROM supplier) u
    JOIN nation ON k = n_nationkey
    """,
)
def u1_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT of customer and supplier nation keys."""
    t = load_tables(spark, sf_dir)
    keys = (
        t["customer"].select(F.col("c_nationkey").alias("k"))
        .unionByName(t["supplier"].select(F.col("s_nationkey").alias("k")))
    )
    return (
        keys.join(F.broadcast(t["nation"]), keys["k"] == F.col("n_nationkey"))
        .select("n_nationkey", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# C7 — conditional description synthesis (reference generate_entities,
# /root/reference/src/senzing_pipeline.py:161-193; clause order preserved)
# ---------------------------------------------------------------------------
@register(
    "c7_description_synthesis",
    """
    SELECT c_custkey,
           concat(c_name, ', segment ', c_mktsegment,
                  CASE WHEN c_acctbal < 0 THEN ', in debt' ELSE '' END,
                  CASE WHEN n_name IS NOT NULL THEN concat(', located in ', n_name) ELSE '' END
           ) AS description
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def c7_description_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Description synthesis: concat_ws clause-ordered customer summary strings."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .select(
            "c_custkey",
            F.concat(
                F.col("c_name"),
                F.lit(", segment "),
                F.col("c_mktsegment"),
                F.when(F.col("c_acctbal") < 0, F.lit(", in debt")).otherwise(F.lit("")),
                F.when(
                    F.col("n_name").isNotNull(), F.concat(F.lit(", located in "), F.col("n_name"))
                ).otherwise(F.lit("")),
            ).alias("description"),
        )
    )


# ---------------------------------------------------------------------------
# C8 — chained type-inference rule (reference get_entity_type,
# /root/reference/src/senzing_pipeline.py:122-135)
# ---------------------------------------------------------------------------
@register(
    "c8_type_inference",
    """
    SELECT p_partkey,
           CASE WHEN p_type = 'PROMO' THEN 'PROMOTIONAL'
                WHEN p_size >= 30 THEN 'LARGE'
                WHEN p_name LIKE '%widget%' THEN 'WIDGET'
                ELSE 'MISC' END AS part_class
    FROM part
    """,
)
def c8_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-inference casts incl. the replicated or-bug: string columns coerced to typed values."""
    t = load_tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.when(F.col("p_type") == "PROMO", "PROMOTIONAL")
        .when(F.col("p_size") >= 30, "LARGE")
        .when(F.col("p_name").like("%widget%"), "WIDGET")
        .otherwise("MISC")
        .alias("part_class"),
    )


# ===========================================================================
# Relational depth: the subquery shapes a warehouse engine must
# cover beyond plain star joins — EXISTS / NOT EXISTS, correlated scalar
# subqueries, HAVING against a global aggregate, and dimension upsert
# (merge). Modeled on the classic TPC-H query patterns (q4/q17/q22/q11)
# adapted to this testdata's columns.
#
# All money math rides as exact integer cents
# (functions/exact_math.py); all threshold comparisons are pure-integer
# (cross-multiplied) so no float rounding can flip a row's membership
# between engines.
#
# Scale notes (100 TB):
# - EXISTS/NOT EXISTS compile to left_semi / left_anti joins — no
#   row multiplication, shuffle keyed on the join key, AQE-skew-safe.
# - The correlated scalar subquery is de-correlated by hand into a
#   per-key aggregate + equi-join (what Catalyst does internally for
#   supported shapes; written explicitly so the plan is guaranteed).
# - Global-scalar thresholds (q11/q22 shape) broadcast one aggregated
#   row via crossJoin(broadcast(...)) — no shuffle of the big side.
# ===========================================================================


# ---------------------------------------------------------------------------
# EXISTS (TPC-H q4 shape): orders from 1996 with at least one lineitem
# shipped more than 60 days after the order date, counted by priority.
# ---------------------------------------------------------------------------
@register(
    "q4_exists_late_ship",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) = 1996
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
      )
    GROUP BY o_orderpriority
    """,
)
def q4_exists_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: order-priority counts for orders with an EXISTS late-shipping lineitem."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].where(F.year("o_orderdate") == 1996)
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H q17 shape): revenue from
# small-quantity lineitems — quantity below 20% of the part's average
# — for one brand. The correlation is de-correlated into a per-part
# aggregate; the 0.2×avg comparison is cross-multiplied to integers:
#   qty < 0.2 * (sum_qty / n)   ⇔   qty * n * 5 < sum_qty
# (l_quantity is integer-valued in this data; both sides BIGINT).
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    """
    WITH pq AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq ON pq.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#1'
      AND CAST(l_quantity AS BIGINT) * n * 5 < sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: avg yearly revenue loss from small-quantity orders of one brand/container."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        money_cents(F.col("l_extendedprice")).alias("price_cents"),
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count("*").alias("n")
    )
    brand_parts = t["part"].where(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        li.join(F.broadcast(brand_parts), li["l_partkey"] == F.col("p_partkey"))
        .join(pq, "l_partkey")
        .where(F.col("qty") * F.col("n") * 5 < F.col("sum_qty"))
        .agg((F.sum("price_cents") / 100.0 / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# NOT EXISTS + global scalar (TPC-H q22 shape): customers with an
# above-average positive balance and no orders since 2000 (dormant
# accounts), by nation. The balance threshold is the average positive
# balance — computed once, broadcast, compared in exact cents
# cross-multiplied form:
#   bal > sum_pos / n_pos   ⇔   bal * n_pos > sum_pos
# ---------------------------------------------------------------------------
@register(
    "q22_idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_pos,
             COUNT(*) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS total_bal
    FROM customer, avg_bal
    WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * n_pos > sum_pos
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_nationkey
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: idle customers with above-average balance, counted per phone country code."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].withColumn("bal_cents", money_cents(F.col("c_acctbal")))
    avg_bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg(F.sum("bal_cents").alias("sum_pos"), F.count("*").alias("n_pos"))
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).where(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos")
    )
    recent = (
        t["orders"]
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    idle = rich.join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
    return idle.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        (F.sum("bal_cents") / 100.0).alias("total_bal"),
    )


# ---------------------------------------------------------------------------
# HAVING vs global aggregate (TPC-H q11 shape): suppliers whose
# lineitem revenue exceeds 0.1% of total revenue. Threshold compare is
# integer cross-multiplication: value * 10000 > total.
# ---------------------------------------------------------------------------
@register(
    "q11_major_suppliers",
    """
    WITH sv AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM sv)
    SELECT l_suppkey AS s_suppkey, value_cents / 100.0 AS supplier_value
    FROM sv, tot
    WHERE value_cents * 10000 > total_cents
    """,
)
def q11_major_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: part-supplier value concentrations above a nation-wide threshold fraction."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_suppkey", money_cents(F.col("l_extendedprice")).alias("cents")
    )
    sv = li.groupBy("l_suppkey").agg(F.sum("cents").alias("value_cents"))
    tot = sv.agg(F.sum("value_cents").alias("total_cents"))
    return (
        sv.crossJoin(F.broadcast(tot))
        .where(F.col("value_cents") * 10000 > F.col("total_cents"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            (F.col("value_cents") / 100.0).alias("supplier_value"),
        )
    )


# ---------------------------------------------------------------------------
# Dimension upsert / merge (SCD-1): apply a deterministic update batch
# to the customer dimension — existing keys take the batch's values,
# new keys are inserted — and tag each output row with its change
# type. The batch is synthesized from the dimension itself (every
# 10th key re-segmented, every 97th key cloned to a new key range) so
# both engines derive the identical batch.
#
# Spark plan: full outer join on the key, coalesce per column — the
# standard shuffle-merge a MERGE INTO compiles to without a
# transactional table format underneath.
# ---------------------------------------------------------------------------
@register(
    "merge_upsert_customers",
    """
    WITH updates AS (
      SELECT c_custkey AS key, 'RESEGMENTED' AS mktsegment FROM customer
      WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 10000000, c_mktsegment FROM customer
      WHERE c_custkey % 97 = 0
    )
    SELECT COALESCE(c_custkey, key) AS c_custkey,
           COALESCE(updates.mktsegment, customer.c_mktsegment) AS c_mktsegment,
           CASE WHEN c_custkey IS NULL THEN 'inserted'
                WHEN key IS NULL THEN 'unchanged'
                ELSE 'updated' END AS change_type
    FROM customer FULL OUTER JOIN updates ON c_custkey = key
    """,
)
def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert: staged changes applied to customers (update matched, insert new)."""
    c = load_tables(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
    updates = (
        c.where(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_custkey").alias("key"), F.lit("RESEGMENTED").alias("mktsegment"))
        .unionByName(
            c.where(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("key"),
                F.col("c_mktsegment").alias("mktsegment"),
            )
        )
    )
    merged = c.join(updates, c["c_custkey"] == updates["key"], "full_outer")
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("c_custkey"),
        F.coalesce(F.col("mktsegment"), F.col("c_mktsegment")).alias("c_mktsegment"),
        F.when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("key").isNull(), "unchanged")
        .otherwise("updated")
        .alias("change_type"),
    )


# ---------------------------------------------------------------------------
# Window-function variety pack: the analytic-function family beyond
# the row_number/rank/sum tiers already covered (W1-W5) — ntile,
# percent_rank, cume_dist, lag, lead in one pass. The ordering key
# (cents, o_orderkey) is unique, so every function is deterministic.
#
# percent_rank/cume_dist are emitted through INTEGER-EXACT half-up
# rounding of the exact rational — round(a/b, 6) computed as
# (2·a·10^6 + b) div (2·b), then /1e6 — on BOTH engines, not
# ROUND(double, 6). The doubles the engines derive are identical
# (single IEEE division of integer ranks), but their ROUNDs are not:
# Spark rounds the double's SHORTEST DECIMAL REPR (BigDecimal
# HALF_UP), DuckDB rounds the binary value, and at the 100x step's
# 3M-row partitions ~1200 of 15M values landed in the disagreement
# gap (found by the r11 Tier A oracle run at 100x; invisible at
# sf0.01-10x sizes). The integer form is the exact-cents pattern
# (functions/exact_math.py) applied to rank ratios. With the unique
# ordering, rank == row_number, so a = rn-1 / b = n-1 (percent_rank)
# and a = rn / b = n (cume_dist).
# ---------------------------------------------------------------------------
@register(
    "w6_analytic_functions",
    """
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT o_orderkey, o_orderpriority, cents,
             CAST(row_number() OVER w AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             lag(cents) OVER w AS prev_cents,
             lead(cents) OVER w AS next_cents
      FROM o
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey)
    )
    SELECT o_orderkey, o_orderpriority, quartile,
           CASE WHEN n > 1 THEN
             CAST((2 * (rn - 1) * 1000000 + (n - 1)) // (2 * (n - 1)) AS DOUBLE)
               / 1000000.0
           ELSE CAST(0.0 AS DOUBLE) END AS pct_rank,
           CAST((2 * rn * 1000000 + n) // (2 * n) AS DOUBLE) / 1000000.0
             AS cume,
           prev_cents,
           next_cents,
           cents - COALESCE(prev_cents, cents) AS step_cents
    FROM r
    """,
)
def w6_analytic_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function battery: lag/lead/first/last/ntile over per-customer order sequences."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wp = Window.partitionBy("o_orderpriority")
    lag = F.lag("cents").over(w)
    r = o.select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(wp).cast("long").alias("n"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        lag.alias("prev_cents"),
        F.lead("cents").over(w).alias("next_cents"),
    )
    # integer-exact half-up 6dp rounding of the exact rank ratios
    # (header comment): identical BIGINT arithmetic on both engines
    return r.select(
        "o_orderkey",
        "o_orderpriority",
        "quartile",
        F.expr(
            "CASE WHEN n > 1 THEN"
            " CAST((2 * (rn - 1) * 1000000 + (n - 1)) div (2 * (n - 1))"
            " AS DOUBLE) / 1000000.0"
            " ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("pct_rank"),
        F.expr(
            "CAST((2 * rn * 1000000 + n) div (2 * n) AS DOUBLE) / 1000000.0"
        ).alias("cume"),
        "prev_cents",
        "next_cents",
        F.expr("cents - COALESCE(prev_cents, cents)").alias("step_cents"),
    )


# ===========================================================================
# TPC-H completion: the remaining classic TPC-H query shapes
# (q6-q10, q12-q16, q18-q21) adapted to this testdata's columns, closing
# out the full 22-query relational pattern family together with the
# q1/q3/q5 and q4/q11/q17/q22 plans above. q2's argmin-per-group shape
# is already covered by ``w4_argmax_part_supplier`` (above) and is not
# duplicated here.
#
# Adaptations (the testdata has no partsupp table and lineitem carries
# only ``l_shipdate``):
# - "receipt lateness" (q12/q21) is derived from ``l_shipdate -
#   o_orderdate``; ship *mode* (q12) becomes a fast/slow ship-latency
#   class.
# - partsupp-based shapes (q16/q20) use the distinct (partkey, suppkey)
#   pairs observed in lineitem as the supplies relation, and q20's
#   "excess availability" becomes "supplied more than half of the part's
#   shipped quantity".
# - q9's supplycost uses ``p_retailprice × l_quantity`` as the cost leg.
#
# All money math is exact-integer (functions/exact_math.py): prices scale
# ×100, price×(1−discount) scales ×10000, ratios are a single final
# division — so Spark and DuckDB agree bit-for-bit regardless of
# aggregation order.
#
# Scale notes (100 TB):
# - Every query is a star join over the big fact (lineitem/orders) with
#   broadcast dims (nation/region/part-subset/supplier-subset where
#   small) — no shuffle of the fact beyond its group/join key.
# - The q15/q18 "HAVING vs global max / threshold" shapes aggregate the
#   fact FIRST (map-side partials), then compare against a broadcast
#   1-row scalar — never a second pass over the fact.
# - q21's "sole late supplier" is a single per-order aggregate (count
#   distinct suppliers, count late suppliers, argmax-late) — one shuffle
#   on l_orderkey instead of the textbook double-EXISTS self-join pair,
#   which would shuffle lineitem three times.
# ===========================================================================


# Shared exact-revenue fragments: l_extendedprice*(1-l_discount) at
# scale 10000 (2dp price × 2dp discount factor → 4dp exact).
_REV_SQL = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)"


def _rev_cents4(li=None) -> F.Column:
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return money_cents(rev, 10000)


# ---------------------------------------------------------------------------
# q6 — forecast revenue change: single-table filter + exact sum. The
# discount band compares scaled integers (5..7 hundredths) so no float
# boundary can flip membership.
# ---------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
               * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem
    WHERE EXTRACT(year FROM l_shipdate) = 1997
      AND CAST(ROUND(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast revenue delta from discounted lineitems in a date/quantity band."""
    li = load_tables(spark, sf_dir)["lineitem"]
    disc = money_cents(F.col("l_discount"))
    return (
        li.where(
            (F.year("l_shipdate") == 1997)
            & disc.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(money_cents(F.col("l_extendedprice")) * disc) / 10000.0).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# q7 — volume shipping between two nations, by supplier-nation /
# customer-nation / ship year. Nation dims broadcast; fact shuffles
# once on the group key.
# ---------------------------------------------------------------------------
@register(
    "q7_nation_volume",
    f"""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           SUM({_REV_SQL}) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND EXTRACT(year FROM l_shipdate) IN (1996, 1997)
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year, both directions."""
    t = load_tables(spark, sf_dir)
    n = t["nation"].select("n_nationkey", "n_name")
    ns = n.withColumnRenamed("n_name", "supp_nation").withColumnRenamed(
        "n_nationkey", "s_nk"
    )
    nc = n.withColumnRenamed("n_name", "cust_nation").withColumnRenamed(
        "n_nationkey", "c_nk"
    )
    df = (
        t["lineitem"]
        .where(F.year("l_shipdate").isin(1996, 1997))
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return df.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg((F.sum(_rev_cents4()) / 10000.0).alias("revenue"))


# ---------------------------------------------------------------------------
# q8 — market share of NATION_1 suppliers within AMERICA-region
# customers, per order year. The share is a ratio of two exact integer
# sums with a single final division.
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    f"""
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           ROUND(SUM(CASE WHEN ns.n_name = 'NATION_1' THEN {_REV_SQL} ELSE 0 END)
                 * 1.0 / SUM({_REV_SQL}), 6) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region    ON nc.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE r_name = 'AMERICA'
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share of a part type's revenue within a region by year."""
    t = load_tables(spark, sf_dir)
    nc = (
        t["nation"]
        .join(F.broadcast(t["region"].where(F.col("r_name") == "AMERICA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    ns = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = _rev_cents4()
    df = (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"), "left_semi")
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        df.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# q9 — product-type profit by supplier nation and year. Cost leg is
# p_retailprice × quantity (partsupp stand-in); both legs land on the
# same ×10000 integer scale before the subtraction so the profit sum
# is exact.
# ---------------------------------------------------------------------------
@register(
    "q9_profit_by_nation_year",
    f"""
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           SUM({_REV_SQL}
               - CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)
                 * CAST(l_quantity AS BIGINT) * 100) / 10000.0 AS profit
    FROM lineitem
    JOIN part     ON l_partkey  = p_partkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: product-line profit per supplier nation and year via integer-cents math."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].where(F.col("p_name").like("%widget%")).select(
        "p_partkey", money_cents(F.col("p_retailprice")).alias("retail_cents")
    )
    profit = _rev_cents4() - F.col("retail_cents") * F.col("l_quantity").cast(
        "long"
    ) * F.lit(100)
    return (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"].select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit) / 10000.0).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q10 — returned-item losers: top 20 customers by refunded revenue in
# one quarter. The ORDER BY carries c_custkey as a unique tie-break so
# LIMIT is deterministic in both engines.
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, n_name,
           SUM({_REV_SQL}) / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY SUM({_REV_SQL}) DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top customers by revenue lost to returned items in one quarter."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    agg = (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_cents4()).alias("rev_cents"))
    )
    return (
        agg.orderBy(F.desc("rev_cents"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            (F.col("rev_cents") / 10000.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q12 — ship-latency class vs order priority (shipmode adaptation):
# for lineitems shipped in 1997, count high-priority vs other orders
# per FAST/SLOW ship class (≤30 days order→ship vs longer).
# ---------------------------------------------------------------------------
@register(
    "q12_ship_class_priority",
    """
    SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 30
                THEN 'FAST' ELSE 'SLOW' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE EXTRACT(year FROM l_shipdate) = 1997
    GROUP BY 1
    """,
)
def q12_ship_class_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: late-commit lineitems per ship mode split by order priority class."""
    t = load_tables(spark, sf_dir)
    df = (
        t["lineitem"]
        .where(F.year("l_shipdate") == 1997)
        .join(t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        df.withColumn(
            "ship_class",
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) <= 30, "FAST"
            ).otherwise("SLOW"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution, INCLUDING zero-order
# customers (the left outer join is the point of the shape).
# ---------------------------------------------------------------------------
@register(
    "q13_order_count_distribution",
    """
    WITH c_orders AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count incl. zero-order customers."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderpriority") != "4-NOT SPECIFIED").select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# q14 — promo revenue share for one month: ratio of two exact integer
# sums, one division, rounded once.
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    f"""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END)
                 / SUM({_REV_SQL}), 6) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo parts' share of one month's gross discounted revenue."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = _rev_cents4()
    return (
        li.join(F.broadcast(t["part"].select("p_partkey", "p_type")),
                F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q15 — top supplier(s) by revenue over a quarter. The fact aggregates
# first; the global max is one broadcast row; the equality compare is
# on exact integer cents so "ties" are well-defined.
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(total_cents) AS max_cents FROM revenue)
    SELECT s_suppkey, s_name, total_cents / 10000.0 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no, mx
    WHERE total_cents = max_cents
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue via a window max."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev_cents4()).alias("total_cents"))
    )
    mx = rev.agg(F.max("total_cents").alias("max_cents"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_cents") == F.col("max_cents"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
              F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", (F.col("total_cents") / 10000.0).alias("total_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q16 — supplier variety per part attribute group. The supplies
# relation is the distinct (partkey, suppkey) pairs from lineitem;
# "complaint" suppliers (negative balance) are excluded with an anti
# pattern (broadcast NOT IN set).
# ---------------------------------------------------------------------------
@register(
    "q16_part_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supplies
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: supplier variety per (brand, type, size) excluding complaint suppliers."""
    t = load_tables(spark, sf_dir)
    supplies = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    parts = t["part"].where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 50)
    )
    bad_supp = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        supplies.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q18 — large-volume orders: per-order quantity sum over a threshold,
# then customer attribution. The HAVING aggregate runs map-side first;
# only qualifying orderkeys rejoin the dims.
# ---------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 200
    )
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total lineitem quantity exceeds 300, with their customers."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


# ---------------------------------------------------------------------------
# q19 — bracketed OR-of-ANDs predicate (brand × size band × quantity
# band). The whole disjunction evaluates inside the scan filter after
# the broadcast part join — Catalyst pushes the part-side conjuncts to
# the part scan.
# ---------------------------------------------------------------------------
@register(
    "q19_bracket_revenue",
    f"""
    SELECT SUM({_REV_SQL}) / 10000.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue from three brand/container/quantity OR-bracket predicates."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    q = F.col("l_quantity")
    brackets = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 30))
    )
    return (
        li.join(F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size")),
                F.col("p_partkey") == F.col("l_partkey"))
        .where(brackets)
        .agg((F.sum(_rev_cents4()) / 10000.0).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q20 — dominant suppliers of widget parts: suppliers who shipped more
# than 2× the average per-supplier share of a part's total quantity.
# (TPC-H's absolute "half the availqty" threshold is not scale-robust
# here: supplier fan-out per part grows with SF, so a fixed fraction
# empties out. Relative-to-average keeps the shape AND the selectivity
# at any SF.) Cross-multiplied integer compare — no division.
# ---------------------------------------------------------------------------
@register(
    "q20_dominant_suppliers",
    """
    WITH widget AS (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'),
    ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supp_qty
      FROM lineitem JOIN widget ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    pt AS (
      SELECT l_partkey, CAST(SUM(supp_qty) AS BIGINT) AS tot_qty,
             COUNT(*) AS n_supps
      FROM ps GROUP BY 1
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE supp_qty * n_supps > 2 * tot_qty
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: suppliers holding excess stock of a part family in one nation."""
    t = load_tables(spark, sf_dir)
    widget = t["part"].where(F.col("p_name").like("%widget%")).select("p_partkey")
    ps = (
        t["lineitem"]
        .join(F.broadcast(widget), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("supp_qty"))
    )
    pt = ps.groupBy("l_partkey").agg(
        F.sum("supp_qty").alias("tot_qty"), F.count("*").alias("n_supps")
    )
    return (
        ps.join(pt, "l_partkey")
        .where(F.col("supp_qty") * F.col("n_supps") > F.lit(2) * F.col("tot_qty"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# q21 — sole late supplier: in multi-supplier orders where exactly one
# supplier shipped late (>60 days after the order date), count per
# supplier how often they were that one. The textbook EXISTS/NOT
# EXISTS pair collapses into ONE per-order aggregate — one shuffle of
# lineitem instead of three self-joins.
# ---------------------------------------------------------------------------
@register(
    "q21_sole_late_supplier",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supps,
             COUNT(DISTINCT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                                CAST(l_shipdate AS DATE)) > 60
                                 THEN l_suppkey END) AS n_late,
             MAX(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                     CAST(l_shipdate AS DATE)) > 60
                      THEN l_suppkey END) AS late_supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_order JOIN supplier ON s_suppkey = late_supp
    WHERE n_supps >= 2 AND n_late = 1
    GROUP BY 1, 2
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers solely responsible for late multi-supplier orders."""
    t = load_tables(spark, sf_dir)
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    per_order = (
        t["lineitem"]
        .join(
            t["orders"]
            .where(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
    )
    return (
        per_order.where((F.col("n_supps") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
              F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q2 — minimum-cost supplier (TPC-H Q2 adapted: no partsupp table in
# this schema, so the (part, supplier) supply cost is the cheapest
# observed lineitem price for the pair, exact in cents). Completes
# the 22/22 TPC-H family. Region-restricted suppliers (EUROPE), all
# tying suppliers kept, correlated-min expressed as groupBy + join
# back (no per-part subquery re-scan).
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    """
    WITH eur_supp AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    big_parts AS (
      SELECT p_partkey, p_brand, p_size FROM part WHERE p_size >= 40
    ),
    costs AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS cost_cents
      FROM lineitem
      JOIN big_parts ON l_partkey = p_partkey
      JOIN eur_supp ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, MIN(cost_cents) AS best_cents FROM costs GROUP BY 1
    )
    SELECT p.p_partkey, p.p_brand, p.p_size,
           es.s_name, es.n_name,
           c.cost_cents / 100.0 AS supply_cost
    FROM costs c
    JOIN best b ON b.l_partkey = c.l_partkey AND c.cost_cents = b.best_cents
    JOIN big_parts p ON p.p_partkey = c.l_partkey
    JOIN eur_supp es ON es.s_suppkey = c.l_suppkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest EUROPE supplier(s) per large part (TPC-H Q2 shape).

    The correlated MIN subquery becomes one groupBy + an equi-join
    back — a single extra shuffle over the (part, supplier)-grain
    cost table, never a per-part re-scan. Dimension sides (suppliers
    restricted by region, the part slice) broadcast.
    """
    t = load_tables(spark, sf_dir)
    eur_supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    big_parts = t["part"].where(F.col("p_size") >= 40).select(
        "p_partkey", "p_brand", "p_size"
    )
    costs = (
        t["lineitem"]
        .join(
            F.broadcast(big_parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(eur_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(money_cents(F.col("l_extendedprice"))).alias("cost_cents"))
    )
    best = costs.groupBy("l_partkey").agg(F.min("cost_cents").alias("best_cents"))
    return (
        costs.join(
            best,
            (costs.l_partkey == best.l_partkey)
            & (costs.cost_cents == best.best_cents),
        )
        .drop(best.l_partkey)
        .join(F.broadcast(big_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eur_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_brand",
            "p_size",
            "s_name",
            "n_name",
            (F.col("cost_cents") / 100.0).alias("supply_cost"),
        )
    )


@register(
    "setop_repeat_customers",
    """
    SELECT o_custkey AS c_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderstatus = 'F'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
)
def setop_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI set operations as first-class plan nodes: customers active
    in BOTH 1996 and 1997 (INTERSECT, distinct semantics) minus those
    with any finalized-'F' 1997 order (EXCEPT, distinct semantics).
    (This testdata's orders span 1995..2001.)

    Reference parity: the reference's id-set membership filters
    (src/eda.py-style set intersections over Python sets) are the
    driver for F4/F5; this query lifts the same set algebra to the
    engine level where it survives data that no longer fits a driver
    set.

    Scale notes (100 TB):
    - Year predicates are range filters on ``o_orderdate`` (not
      ``year()`` calls), so they push to the parquet scan and prune
      date-partitioned layouts.
    - ``intersect``/``subtract`` compile to a distinct-aggregate plus
      left-semi/left-anti hash joins on the lone ``c_custkey`` column:
      map-side partial DISTINCT collapses each branch to unique
      custkeys per partition BEFORE the single key shuffle, so the
      shuffled volume is bounded by |customers|, not |orders|.
    - All three branches scan only (o_custkey, o_orderdate,
      o_orderstatus) — column pruning keeps the fact scan narrow.
    """
    orders = load_tables(spark, sf_dir)["orders"]

    def active(year: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= f"{year}-01-01")
                & (F.col("o_orderdate") < f"{year + 1}-01-01")
            )
            .select(F.col("o_custkey").alias("c_custkey"))
        )

    finalized_1997 = (
        orders.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return active(1996).intersect(active(1997)).subtract(finalized_1997)
