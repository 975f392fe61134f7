"""OLAP + sketch analytics tier: grouping sets (ROLLUP/CUBE),
retention cohorts, unpivot, PII masking, and an engine-portable
HyperLogLog distinct sketch.

Every query here has a full DuckDB oracle. The HLL follows the
portable-hash recipe proven by dedup/minhash.py: the hash family is
md5 (identical in every engine), register sums ride as exact
DECIMAL(38) integers (sums of powers of two overflow a double's
53-bit mantissa, so float summation would be order-dependent), and
the only floating-point steps are a fixed expression tree evaluated
identically by both engines, rounded to 4dp.

Scale notes (100 TB):
- ROLLUP/CUBE are single-pass partial-aggregating plans in Spark —
  the grouping-set expansion happens inside the Expand operator
  before the shuffle, so each row is combined map-side.
- The HLL sketch is two aggregations (register max, then register
  sum); state is 256 registers per group regardless of cardinality —
  this is exactly the sketch you'd keep per partition at 100 TB.
- Retention joins each event to its user's first-seen day: the
  first-seen table is user-keyed (small) and the join co-partitions
  on user_id — one shuffle each side, no window over the event log.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import money_cents
from erkg_tutorials_spark.plans.registry import register


# ---------------------------------------------------------------------------
# HyperLogLog distinct-user sketch per event type (m=256 registers).
#
# Register: bucket = first byte of md5(user_id); rho = 1 + number of
# leading zero bits in the next 60 bits (15 hex chars — 60 bits keeps
# the value inside a signed BIGINT on both engines). Estimator is the
# standard HLL-with-linear-counting-fallback (Flajolet et al. 2007):
#   S = sum over 256 registers of 2^(64-M_j)   (empty register: 2^64)
#   E_raw = alpha_256 * 256^2 * 2^64 / S
#   if E_raw <= 2.5*256 and V>0:  E = 256 * ln(256/V)   (V = empty)
# The sum is computed in DECIMAL(38,0): every term is an exact power
# of two up to 2^64 and the mantissa of a double cannot hold the
# mixed-magnitude sum exactly, so float summation would be
# order-dependent across engines.
#
# The estimate itself is also exact integer arithmetic (r3 — the sf0.1
# sweep caught a 1-ulp double division landing on either side of a
# ROUND(·, 4) tie between engines): alpha_256 is the exact rational
#   0.7213 / (1 + 1.079/256) = 7213·256 / 2570790 = 1846528 / 2570790
# so E_raw·10^4 = N4 / (2570790·S) with N4 = 1846528·65536·2^64·10^4
# (35 digits — fits DECIMAL(38,0)/HUGEINT). hll_estimate is the
# 4dp-FLOORED estimate, floor done by integer division — bit-equal on
# any engine. The linear-counting branch predicate (E_raw <= 2.5·256)
# becomes the exact compare est_scaled <= 640·10^4; the ln() in that
# branch stays float (255 possible inputs, round-to-4dp ties aren't
# realistically hittable, and the small-cardinality gates exercise it).
# ---------------------------------------------------------------------------
_HLL_N4 = str(1846528 * 65536 * 2**64 * 10**4)

_HLL_SQL = f"""
    WITH h AS (
      SELECT event_type,
             md5(CAST(user_id AS VARCHAR)) AS hx,
             user_id
      FROM events
    ),
    r AS (
      SELECT event_type,
             CAST(('0x' || substring(hx, 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substring(hx, 3, 15)) AS BIGINT) AS w
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m
      FROM r GROUP BY event_type, bucket
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CAST(power(2, 64 - m) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_present,
             COUNT(*) AS n_buckets
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             (256 - n_buckets) AS v,
             CAST('{_HLL_N4}' AS HUGEINT)
               // (2570790 * CAST(s_present + (256 - n_buckets)
                                  * CAST(power(2, 64) AS DECIMAL(38,0)) AS HUGEINT))
               AS est_scaled
      FROM agg
    ),
    ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM h GROUP BY event_type
    )
    SELECT est.event_type,
           CAST(n_exact AS BIGINT) AS n_exact,
           CASE WHEN est_scaled <= 6400000 AND v > 0
                THEN ROUND(256 * ln(256.0 / v), 4)
                ELSE CAST(est_scaled AS BIGINT) / 10000.0 END AS hll_estimate
    FROM est JOIN ex ON est.event_type = ex.event_type
"""


@register("hll_distinct_users", _HLL_SQL)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog-style distinct-user estimate per event type, with the exact count alongside."""
    e = load_tables(spark, sf_dir)["events"].select("event_type", "user_id")
    h = e.select(
        "event_type",
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("hx"),
    )
    r = h.select(
        "event_type",
        F.conv(F.substring("hx", 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring("hx", 3, 15), 16, 10).cast("bigint").alias("w"),
    )
    regs = r.groupBy("event_type", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(61)).otherwise(
                F.lit(61) - F.length(F.bin(F.col("w")))
            )
        ).alias("m")
    )
    agg = regs.groupBy("event_type").agg(
        F.sum(F.expr("CAST(power(2, 64 - m) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("s_present"),
        F.count("*").alias("n_buckets"),
    )
    est = agg.select(
        "event_type",
        (F.lit(256) - F.col("n_buckets")).alias("v"),
        F.expr(
            f"CAST(CAST('{_HLL_N4}' AS DECIMAL(38,0)) DIV "
            "(CAST(2570790 AS DECIMAL(38,0)) * "
            "(s_present + (256 - n_buckets) * CAST(power(2, 64) AS DECIMAL(38,0)))) "
            "AS BIGINT)"
        ).alias("est_scaled"),
    )
    ex = h.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_exact"))
    return est.join(ex, "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.when(
            (F.col("est_scaled") <= 6400000) & (F.col("v") > 0),
            F.round(F.lit(256) * F.log(F.lit(256.0) / F.col("v")), 4),
        )
        .otherwise(F.col("est_scaled") / F.lit(10000.0))
        .alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# ROLLUP: order revenue by (region, nation) with subtotal rows.
# grouping_id disambiguates real NULLs from subtotal NULLs (none in
# this data, but the column is part of the operator's contract).
# ---------------------------------------------------------------------------
@register(
    "olap_rollup_revenue",
    """
    SELECT r_name, n_name,
           GROUPING(r_name, n_name) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def olap_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (region, nation) with subtotal and grand-total rows for order revenue."""
    t = load_tables(spark, sf_dir)
    base = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name", money_cents(F.col("o_totalprice")).alias("cents"))
    )
    return (
        base.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("revenue"),
        )
        .select("r_name", "n_name", F.col("gid").cast("long"), "n_orders", "revenue")
    )


# ---------------------------------------------------------------------------
# CUBE: order counts across (order year × status), all marginals.
# ---------------------------------------------------------------------------
@register(
    "olap_cube_orders",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           o_orderstatus,
           GROUPING(EXTRACT(year FROM o_orderdate), o_orderstatus) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
             AS revenue
    FROM orders
    GROUP BY CUBE (EXTRACT(year FROM o_orderdate), o_orderstatus)
    """,
)
def olap_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all grouping-set combinations with counts and revenue."""
    o = load_tables(spark, sf_dir)["orders"].select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        "o_orderstatus",
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    return (
        o.cube("o_year", "o_orderstatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("revenue"),
        )
        .select("o_year", "o_orderstatus", F.col("gid").cast("long"), "n_orders", "revenue")
    )


# ---------------------------------------------------------------------------
# Retention cohorts: users cohorted by first-seen day; a cohort cell
# counts distinct users active day_offset days after their first day.
# ---------------------------------------------------------------------------
@register(
    "retention_cohorts",
    """
    WITH e AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events
    ),
    first_seen AS (
      SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
    )
    SELECT cohort_day, (day - cohort_day) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM e JOIN first_seen ON e.user_id = first_seen.user_id
    GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly signup cohorts x activity month retention matrix from the events table."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", F.expr("ts_sec div 86400").alias("day")
    )
    first_seen = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first_seen, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long): part metrics to (metric, value) rows. The
# retail price rides as exact cents so the long value column is BIGINT.
# Spark's native unpivot compiles to Expand — map-side, no shuffle;
# the oracle is the portable UNION ALL formulation.
# ---------------------------------------------------------------------------
@register(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS BIGINT) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retail_cents', CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)
    FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide part metrics melted to (metric, value) rows via stack/unpivot."""
    p = load_tables(spark, sf_dir)["part"].select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        money_cents(F.col("p_retailprice")).alias("retail_cents"),
    )
    return p.unpivot("p_partkey", ["size", "retail_cents"], "metric", "value")


# ---------------------------------------------------------------------------
# PII anonymization: direct identifiers masked (digits in the customer
# name become '*' except the last 2 — enough to eyeball joins in a
# debug sample without recovering the id), quasi-identifiers
# generalized (account balance → width-1000-cent bucket), plus the
# bucket's occupancy so a k-anonymity audit can read suppression
# candidates straight off the result. The regexes stay inside the
# dialect subset Java regex and RE2 share.
# ---------------------------------------------------------------------------
@register(
    "pii_mask_customers",
    """
    WITH m AS (
      SELECT c_custkey,
             concat(regexp_replace(substring(c_name, 1, length(c_name) - 2),
                                   '[0-9]', '*', 'g'),
                    substring(c_name, length(c_name) - 1, 2)) AS name_masked,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) // 100000 AS acctbal_bucket
      FROM customer
    )
    SELECT c_custkey, name_masked, acctbal_bucket,
           CAST(COUNT(*) OVER (PARTITION BY acctbal_bucket) AS BIGINT) AS bucket_k
    FROM m
    """,
)
def pii_mask_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII masking: hashed keys, redacted phone/address with format preserved."""
    c = load_tables(spark, sf_dir)["customer"]
    m = c.select(
        "c_custkey",
        F.concat(
            F.regexp_replace(
                F.expr("substring(c_name, 1, length(c_name) - 2)"), "[0-9]", "*"
            ),
            F.expr("substring(c_name, length(c_name) - 1, 2)"),
        ).alias("name_masked"),
        F.expr(
            "CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) div 100000"
        ).alias("acctbal_bucket"),
    )
    w = Window.partitionBy("acctbal_bucket")
    return m.withColumn("bucket_k", F.count("*").over(w).cast("long"))


# ---------------------------------------------------------------------------
# Count-Min sketch heavy-hitter estimation (depth 4 × width 64,
# md5-derived row hashes). Unlike the HLL (which needs one float
# division), CM is PURE INTEGER end-to-end: registers are counts,
# the estimate is min over depth rows — both engines replay the
# sketch exactly, no rounding anywhere. Estimates are checked against
# the true counts (always estimate >= truth; one-sided CM error).
#
# 100 TB shape: the sketch table is (depth × width) = 256 rows per
# group regardless of stream length; register increments partial-
# aggregate map-side. Querying = 4-row lookup per tracked key.
# ---------------------------------------------------------------------------
_CM_DEPTH = 4
_CM_WIDTH = 64


def _cm_bucket_sql(row: int) -> str:
    # row-seeded md5 → bucket in [0, width)
    return (
        f"CAST(('0x' || substring(md5(concat('{row}|', CAST(user_id AS VARCHAR))), 1, 8)) "
        f"AS BIGINT) % {_CM_WIDTH}"
    )


@register(
    "cm_sketch_user_counts",
    f"""
    WITH regs AS (
      {' UNION ALL '.join(
          f"SELECT {r} AS row_id, {_cm_bucket_sql(r)} AS bucket, COUNT(*) AS c "
          f"FROM events GROUP BY 2"
          for r in range(_CM_DEPTH)
      )}
    ),
    tracked AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 0
    ),
    lookups AS (
      SELECT t.user_id, r.row_id, r.c
      FROM tracked t JOIN regs r
        ON r.bucket = CAST(('0x' || substring(md5(concat(CAST(r.row_id AS VARCHAR),
                      '|', CAST(t.user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {_CM_WIDTH}
    ),
    est AS (
      SELECT user_id, MIN(c) AS cm_estimate FROM lookups GROUP BY user_id
    ),
    truth AS (
      SELECT user_id, COUNT(*) AS true_count FROM events GROUP BY user_id
    )
    SELECT est.user_id,
           CAST(cm_estimate AS BIGINT) AS cm_estimate,
           CAST(true_count AS BIGINT) AS true_count
    FROM est JOIN truth ON est.user_id = truth.user_id
    """,
)
def cm_sketch_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch per-user event-count estimates joined against the true counts."""
    e = load_tables(spark, sf_dir)["events"].select("user_id")

    def bucket(row: int, col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{row}|"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _CM_WIDTH
        )

    regs = None
    for r in range(_CM_DEPTH):
        part = e.groupBy(bucket(r, F.col("user_id")).alias("bucket")).agg(
            F.count("*").alias("c")
        ).select(F.lit(r).alias("row_id"), "bucket", "c")
        regs = part if regs is None else regs.unionByName(part)
    tracked = e.where(F.col("user_id") % 50 == 0).distinct()
    lookups = tracked.crossJoin(F.broadcast(regs)).where(
        F.col("bucket")
        == (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("row_id").cast("string"),
                            F.lit("|"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _CM_WIDTH
        )
    )
    est = lookups.groupBy("user_id").agg(F.min("c").alias("cm_estimate"))
    truth = e.groupBy("user_id").agg(F.count("*").alias("true_count"))
    return est.join(truth, "user_id").select(
        "user_id",
        F.col("cm_estimate").cast("long"),
        F.col("true_count").cast("long"),
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy matching: nearest customer-name neighbors among
# a blocked candidate set. Blocking is two-keyed: name length ±1 AND a
# shared boundary character (same first char OR same last char) — the
# standard multi-key blocking that keeps candidate sets sub-quadratic
# when many strings share one length (exactly what a real seed table
# looks like; a length-only block there degenerates to seeds×corpus).
# A single substitution typo preserves both boundary chars unless it
# hits position 1 or n, and an indel shifts at most one of them, so
# recall for typo-style matches stays high; the block is part of the
# query's declared semantics and the oracle replays it verbatim.
# levenshtein() is exact and identical in both engines; ranking is
# (distance, name) so ties are deterministic.
# ---------------------------------------------------------------------------
@register(
    "fuzzy_name_match",
    """
    WITH seeds AS (
      SELECT c_custkey AS seed_key, c_name AS seed_name FROM customer
      WHERE c_custkey % 200 = 0
    ),
    cands AS (
      SELECT DISTINCT s.seed_key, s.seed_name,
             c.c_custkey AS cand_key, c.c_name AS cand_name
      FROM seeds s JOIN customer c
        ON abs(length(s.seed_name) - length(c.c_name)) <= 1
       AND (substr(s.seed_name, 1, 1) = substr(c.c_name, 1, 1)
            OR right(s.seed_name, 1) = right(c.c_name, 1))
       AND s.seed_key <> c.c_custkey
    ),
    scored AS (
      SELECT *, levenshtein(seed_name, cand_name) AS dist FROM cands
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY seed_key
                                   ORDER BY dist, cand_name, cand_key) AS rk
      FROM scored
    )
    SELECT seed_key, seed_name, cand_key, cand_name,
           CAST(dist AS BIGINT) AS dist, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 Levenshtein-nearest customer names per supplier seed name, blocked by first letter."""
    c = load_tables(spark, sf_dir)["customer"]
    # BOTH block keys become EQUI join columns: each seed explodes into
    # its three admissible candidate lengths × its two tagged boundary
    # chars; each candidate row carries its exact length and its two
    # tagged boundary chars. The join key is (len, tagged-char), a hash
    # join at any scale — a plain inequality/OR condition would compile
    # to BroadcastNestedLoopJoin (seeds × corpus pair evaluation).
    # Matching via both keys yields duplicate pairs; DISTINCT collapses
    # them before scoring.
    first_of = lambda col: F.concat(F.lit("F:"), F.substring(F.col(col), 1, 1))
    last_of = lambda col: F.concat(F.lit("L:"), F.expr(f"right({col}, 1)"))
    seeds = (
        c.where(F.col("c_custkey") % 200 == 0)
        .select(F.col("c_custkey").alias("seed_key"), F.col("c_name").alias("seed_name"))
        .withColumn(
            "cand_len",
            F.explode(
                F.array(
                    F.length("seed_name") - 1,
                    F.length("seed_name"),
                    F.length("seed_name") + 1,
                )
            ),
        )
        .withColumn(
            "bkey", F.explode(F.array(first_of("seed_name"), last_of("seed_name")))
        )
        .distinct()
    )
    cand_side = c.withColumn(
        "bkey", F.explode(F.array(first_of("c_name"), last_of("c_name")))
    )
    cands = (
        F.broadcast(seeds)
        .join(
            cand_side,
            (F.length("c_name") == F.col("cand_len"))
            & (cand_side["bkey"] == seeds["bkey"]),
        )
        .where(F.col("seed_key") != F.col("c_custkey"))
        .select(
            "seed_key",
            "seed_name",
            F.col("c_custkey").alias("cand_key"),
            F.col("c_name").alias("cand_name"),
        )
        .distinct()
        .withColumn("dist", F.levenshtein("seed_name", "cand_name"))
    )
    w = Window.partitionBy("seed_key").orderBy("dist", "cand_name", "cand_key")
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "seed_key",
            "seed_name",
            "cand_key",
            "cand_name",
            F.col("dist").cast("long"),
            F.col("rk").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Table profiling (data-quality summary): one row per column of the
# orders table — null count, exact distinct count, min/max rendered to
# strings. The single-pass Spark plan computes every column's stats in
# one aggregation (no per-column scans); the oracle mirrors it with a
# stacked UNION ALL. Numeric min/max go through exact cents / integer
# casts so the string rendering is identical across engines.
# ---------------------------------------------------------------------------
@register(
    "profile_orders",
    """
    SELECT 'o_orderkey' AS col,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT),
           CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS VARCHAR),
           CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling of orders: null count, distinct count, min/max per column as rows."""
    o = load_tables(spark, sf_dir)["orders"]
    cents = money_cents(F.col("o_totalprice"))
    specs = [
        ("o_orderkey", F.col("o_orderkey")),
        ("o_custkey", F.col("o_custkey")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice_cents", cents),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]
    # one aggregation computes every column's stats; min/max aggregate
    # in the column's OWN type (numeric order, not lexicographic) and
    # only the result is rendered to string. The stack to (col, stats)
    # rows is a tiny 1-row explode afterwards.
    aggs = []
    for name, val in specs:
        aggs += [
            (F.count(F.lit(1)) - F.count(val)).alias(f"null_{name}"),
            F.count_distinct(val).alias(f"nd_{name}"),
            F.min(val).cast("string").alias(f"min_{name}"),
            F.max(val).cast("string").alias(f"max_{name}"),
        ]
    wide = o.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("col"),
                        F.col(f"null_{name}").cast("long").alias("n_null"),
                        F.col(f"nd_{name}").cast("long").alias("n_distinct"),
                        F.col(f"min_{name}").alias("min_val"),
                        F.col(f"max_{name}").alias("max_val"),
                    )
                    for name, _ in specs
                ]
            )
        ).alias("s")
    )
    return stacked.select("s.col", "s.n_null", "s.n_distinct", "s.min_val", "s.max_val")


# ---------------------------------------------------------------------------
# Exact statistical aggregates: per-segment covariance, Pearson
# correlation, stddev, and OLS slope/intercept of order totalprice
# against item count. Float SUMs are order-dependent, so every moment
# is accumulated as an exact BIGINT (x = whole dollars ≤ ~6·10⁵,
# y = item count ≤ 7: Σx² ≤ 2.5·10¹¹·|G| stays far under 2⁶³); the
# closed forms then use one division and one sqrt on already-final
# integers — IEEE-754 requires sqrt and division to be correctly
# rounded, so both engines produce the identical double bit pattern
# before the 6dp round. This is the textbook "sufficient statistics"
# distributed pattern: one pass, map-side partial sums, no second
# centering pass.
# ---------------------------------------------------------------------------
@register(
    "stat_regression",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice, 0) AS BIGINT) AS x
      FROM orders
    ),
    items AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT c.c_mktsegment AS seg, o.x, i.y
      FROM o JOIN items i ON i.l_orderkey = o.o_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM joined GROUP BY seg
    )
    SELECT seg, n,
           ROUND(((1.0 * n) * sxy - (1.0 * sx) * sy) / ((1.0 * n) * n), 6)
             AS covar_pop,
           ROUND(((1.0 * n) * sxy - (1.0 * sx) * sy)
                 / SQRT(((1.0 * n) * sxx - (1.0 * sx) * sx)
                        * ((1.0 * n) * syy - (1.0 * sy) * sy)),
                 6) AS corr,
           ROUND(SQRT((1.0 * n) * sxx - (1.0 * sx) * sx) / n, 6) AS stddev_pop_x,
           ROUND(((1.0 * n) * sxy - (1.0 * sx) * sy)
                 / ((1.0 * n) * sxx - (1.0 * sx) * sx), 6) AS slope,
           ROUND((sy - ((1.0 * n) * sxy - (1.0 * sx) * sy)
                       / ((1.0 * n) * sxx - (1.0 * sx) * sx) * sx)
                 / n, 6) AS intercept
    FROM m
    """,
)
def stat_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact moments → covar/corr/stddev/OLS fit."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice"), 0).cast("long").alias("x"),
    )
    items = t["lineitem"].groupBy("l_orderkey").agg(F.count("*").alias("y"))
    joined = (
        o.join(items, items.l_orderkey == o.o_orderkey)
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .select(F.col("c_mktsegment").alias("seg"), "x", "y")
    )
    m = joined.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # every product promotes to DOUBLE before multiplying: sx*sx as
    # BIGINT overflows at sf>=0.1 (sx ~ 4.5e9 per segment), and the
    # engines disagree on overflow (DuckDB promotes to HUGEINT, Spark
    # wraps). Double products are correctly rounded, and both engines
    # evaluate the SAME left-associated tree -> identical bits.
    one = F.lit(1.0)
    cov_num = (one * n) * sxy - (one * sx) * sy
    varx = (one * n) * sxx - (one * sx) * sx
    vary = (one * n) * syy - (one * sy) * sy
    slope = cov_num / varx
    return m.select(
        "seg",
        "n",
        F.round(cov_num / ((one * n) * n), 6).alias("covar_pop"),
        F.round(cov_num / F.sqrt(varx * vary), 6).alias("corr"),
        F.round(F.sqrt(varx) / n, 6).alias("stddev_pop_x"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - cov_num / varx * sx) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules over co-ordered parts: support,
# confidence, and lift for pair rules a ⇒ b — the classic retail
# affinity workload (Agrawal & Srikant's Apriori output shape for
# k=2). All three metrics are single divisions of exact integer
# counts (round 6); lift's n·cnt_ab product stays far inside BIGINT.
# Scale shape: the pair expansion is the same per-order self-join the
# co-order graph uses (fan-out bounded by order width, ~7 items), one
# groupBy on the pair, then item counts broadcast back onto the pair
# table. Min-support pruning (Apriori's core trick) applies BEFORE
# the metric joins, so low-support noise never reaches the join.
# ---------------------------------------------------------------------------
BASKET_MIN_PAIR = 3
BASKET_TOPK = 50


@register(
    "basket_association_rules",
    f"""
    WITH n AS (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders FROM orders),
    item AS (
      SELECT l_partkey AS item, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS ia, b.l_partkey AS ib,
             CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS cnt_ab
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(DISTINCT a.l_orderkey) >= {BASKET_MIN_PAIR}
    ),
    scored AS (
      SELECT p.ia, p.ib, p.cnt_ab, xa.cnt AS cnt_a, xb.cnt AS cnt_b, n.n_orders,
             ROUND(p.cnt_ab / (1.0 * n.n_orders), 6) AS support,
             ROUND(p.cnt_ab / (1.0 * xa.cnt), 6) AS confidence,
             ROUND((p.cnt_ab * n.n_orders) / (1.0 * xa.cnt * xb.cnt), 6) AS lift
      FROM pair p JOIN item xa ON xa.item = p.ia
      JOIN item xb ON xb.item = p.ib
      CROSS JOIN n
    )
    SELECT ia, ib, cnt_ab, cnt_a, cnt_b, support, confidence, lift,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY lift DESC, cnt_ab DESC, ia ASC, ib ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= {BASKET_TOPK}
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pair rules by lift over co-ordered parts."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    n = t["orders"].agg(F.countDistinct("o_orderkey").alias("n_orders"))
    item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.countDistinct("l_orderkey").alias("cnt")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ia"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ib"))
    pair = (
        a.join(b, "ok")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.countDistinct("ok").alias("cnt_ab"))
        .where(F.col("cnt_ab") >= BASKET_MIN_PAIR)
    )
    scored = (
        pair.join(
            F.broadcast(item.select(F.col("item").alias("ia"), F.col("cnt").alias("cnt_a"))),
            "ia",
        )
        .join(
            F.broadcast(item.select(F.col("item").alias("ib"), F.col("cnt").alias("cnt_b"))),
            "ib",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "ia",
            "ib",
            "cnt_ab",
            "cnt_a",
            "cnt_b",
            "n_orders",
            F.round(F.col("cnt_ab") / (F.lit(1.0) * F.col("n_orders")), 6).alias(
                "support"
            ),
            F.round(F.col("cnt_ab") / (F.lit(1.0) * F.col("cnt_a")), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("cnt_ab") * F.col("n_orders"))
                / (F.lit(1.0) * F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )
    w = Window.orderBy(
        F.desc("lift"), F.desc("cnt_ab"), F.asc("ia"), F.asc("ib")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= BASKET_TOPK)
        .drop("n_orders")
    )


# ---------------------------------------------------------------------------
# Market concentration: the Herfindahl–Hirschman index of supplier
# revenue share per nation — Σ share² over suppliers, the standard
# antitrust/market-structure metric. Shares are exact-cents ratios;
# HHI is a sum of squared DOUBLE ratios, which IS order-sensitive in
# general — so the sum is computed over integer-scaled share values
# (share in basis points as BIGINT, squared exactly) and divided once
# at the end: associative, bit-identical under any partial-agg order.
# One fact aggregation + one nation rollup.
# ---------------------------------------------------------------------------
@register(
    "supplier_hhi",
    """
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT nation, CAST(SUM(cents) AS BIGINT) AS tot_cents FROM rev GROUP BY nation
    ),
    share AS (
      SELECT r.nation,
             CAST((r.cents * 1000000) // t.tot_cents AS BIGINT) AS share_ppm
      FROM rev r JOIN tot t ON t.nation = r.nation
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(share_ppm * share_ppm) / 1000000000000.0, 6) AS hhi
    FROM share GROUP BY nation
    """,
)
def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier revenue concentration (HHI in [0, 1])."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy(
            F.col("s_nationkey").alias("nation"), F.col("l_suppkey").alias("supp")
        )
        .agg(F.sum(money_cents(F.col("l_extendedprice"))).alias("cents"))
    )
    tot = rev.groupBy("nation").agg(F.sum("cents").alias("tot_cents"))
    share = rev.join(F.broadcast(tot), "nation").select(
        "nation",
        F.expr("(cents * 1000000) div tot_cents").alias("share_ppm"),
    )
    return share.groupBy("nation").agg(
        F.count("*").alias("n_suppliers"),
        F.round(
            F.sum(F.col("share_ppm") * F.col("share_ppm")) / F.lit(1e12), 6
        ).alias("hhi"),
    )


# ---------------------------------------------------------------------------
# Exact nearest-rank percentiles via histogram counting — the
# scale pattern that replaces a global sort. approx_percentile /
# percentile_approx sketches are not cross-engine reproducible, and a
# true sort of the fact table is a full-data exchange; instead the
# fact rows collapse to a (group, value) -> count histogram first
# (map-side partial agg; the distinct-value domain is orders of
# magnitude smaller than the row count), then ONE window over the
# tiny histogram computes cumulative counts, and the percentile is
# the minimal value whose cumulative count reaches ceil(q*n) —
# nearest-rank definition, exact in integers (ceil(q*n) =
# (n*q_pct + 99) div 100, no floats anywhere until the final /100.0
# cents display division). Scale shape: one groupBy shuffle on
# (group, cents) + a per-group window over distinct values; the raw
# fact table is never sorted or re-shuffled whole.
# ---------------------------------------------------------------------------
_PCTS = (50, 90, 99)


@register(
    "exact_percentiles_orders",
    f"""
    WITH hist AS (
      SELECT o_orderpriority AS priority,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    cum AS (
      SELECT priority, cents, c,
             SUM(c) OVER (PARTITION BY priority ORDER BY cents) AS cum,
             SUM(c) OVER (PARTITION BY priority) AS n
      FROM hist
    )
    SELECT priority,
           CAST(MAX(n) AS BIGINT) AS n_orders,
           {", ".join(
               f"MIN(CASE WHEN cum >= (n * {p} + 99) // 100 THEN cents END) / 100.0 AS p{p}"
               for p in _PCTS
           )}
    FROM cum GROUP BY priority
    """,
)
def exact_percentiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 of order value per priority,
    via the histogram-counting pattern (no sort, no sketch)."""
    o = load_tables(spark, sf_dir)["orders"].select(
        F.col("o_orderpriority").alias("priority"),
        money_cents(F.col("o_totalprice")).alias("cents"),
    )
    hist = o.groupBy("priority", "cents").agg(F.count("*").alias("c"))
    w_cum = Window.partitionBy("priority").orderBy("cents")
    w_all = Window.partitionBy("priority")
    cum = hist.select(
        "priority",
        "cents",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n_orders")] + [
        (
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"(n * {p} + 99) div 100"), F.col("cents")
                )
            )
            / 100.0
        ).alias(f"p{p}")
        for p in _PCTS
    ]
    return cum.groupBy("priority").agg(*aggs)


# ---------------------------------------------------------------------------
# HLL MERGE: union of the five per-type sketches by register max —
# the mergeability property that makes sketches work at 100 TB (per
# partition/day/shard sketches combine without touching raw data;
# the union estimate comes from the merged 256 registers alone). The
# raw rows feed ONLY the per-type register build (the same one
# hll_distinct_users runs); everything after operates on <= 5*256
# register rows.
# ---------------------------------------------------------------------------
_HLL_UNION_SQL = f"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx, user_id FROM events
    ),
    r AS (
      SELECT event_type,
             CAST(('0x' || substring(hx, 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substring(hx, 3, 15)) AS BIGINT) AS w
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m
      FROM r GROUP BY event_type, bucket
    ),
    merged AS (
      SELECT bucket, MAX(m) AS m FROM regs GROUP BY bucket
    ),
    agg AS (
      SELECT CAST(SUM(CAST(power(2, 64 - m) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_present,
             COUNT(*) AS n_buckets
      FROM merged
    ),
    est AS (
      SELECT (256 - n_buckets) AS v,
             CAST('{{n4}}' AS HUGEINT)
               // (2570790 * CAST(s_present + (256 - n_buckets)
                                  * CAST(power(2, 64) AS DECIMAL(38,0)) AS HUGEINT))
               AS est_scaled
      FROM agg
    ),
    ex AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM h),
    ns AS (SELECT COUNT(DISTINCT event_type) AS n_sketches FROM regs)
    SELECT CAST(ns.n_sketches AS BIGINT) AS n_sketches,
           CAST(ex.n_exact AS BIGINT) AS n_exact,
           CASE WHEN est_scaled <= 6400000 AND v > 0
                THEN ROUND(256 * ln(256.0 / v), 4)
                ELSE CAST(est_scaled AS BIGINT) / 10000.0 END AS hll_union_estimate
    FROM est CROSS JOIN ex CROSS JOIN ns
""".replace("{n4}", _HLL_N4)


@register("hll_union_users", _HLL_UNION_SQL)
def hll_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users across ALL event types, estimated by MERGING the
    per-type HLL sketches (register max) — no second pass over rows."""
    e = load_tables(spark, sf_dir)["events"].select("event_type", "user_id")
    h = e.select(
        "event_type",
        "user_id",
        F.md5(F.col("user_id").cast("string")).alias("hx"),
    )
    r = h.select(
        "event_type",
        F.conv(F.substring("hx", 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring("hx", 3, 15), 16, 10).cast("bigint").alias("w"),
    )
    regs = r.groupBy("event_type", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(61)).otherwise(
                F.lit(61) - F.length(F.bin(F.col("w")))
            )
        ).alias("m")
    )
    merged = regs.groupBy("bucket").agg(F.max("m").alias("m"))
    agg = merged.agg(
        F.sum(F.expr("CAST(power(2, 64 - m) AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("s_present"),
        F.count("*").alias("n_buckets"),
    )
    est = agg.select(
        (F.lit(256) - F.col("n_buckets")).alias("v"),
        F.expr(
            f"CAST(CAST('{_HLL_N4}' AS DECIMAL(38,0)) DIV "
            "(CAST(2570790 AS DECIMAL(38,0)) * "
            "(s_present + (256 - n_buckets) * CAST(power(2, 64) AS DECIMAL(38,0)))) "
            "AS BIGINT)"
        ).alias("est_scaled"),
    )
    ex = h.agg(F.count_distinct("user_id").alias("n_exact"))
    ns = regs.agg(F.count_distinct("event_type").alias("n_sketches"))
    return (
        est.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(ns))
        .select(
            F.col("n_sketches").cast("long").alias("n_sketches"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.when(
                (F.col("est_scaled") <= 6400000) & (F.col("v") > 0),
                F.round(F.lit(256) * F.log(F.lit(256.0) / F.col("v")), 4),
            )
            .otherwise(F.col("est_scaled") / F.lit(10000.0))
            .alias("hll_union_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over a quasi-identifier tuple (Sweeney 2002,
# "k-Anonymity: a model for protecting privacy" — public paper): the
# privacy gate a dataset must pass before the pii_mask_customers
# release step. A (nation, segment, balance-band) equivalence class
# smaller than K re-identifies its members; the audit reports every
# violating class plus its size — one groupBy, scan-side banding,
# scale-trivial.
# ---------------------------------------------------------------------------
KANON_K = 5
KANON_BAND_CENTS = 200_000  # $2000 balance bands


@register(
    "kanonymity_violations",
    f"""
    WITH classes AS (
      SELECT c_nationkey AS nationkey, c_mktsegment AS segment,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) // {KANON_BAND_CENTS} AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT nationkey, segment, bal_band, class_size
    FROM classes WHERE class_size < {KANON_K}
    """,
)
def kanonymity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier equivalence classes (nation, segment, balance band) smaller than K, i.e. re-identifiable groups."""
    c = load_tables(spark, sf_dir)["customer"]
    classes = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            # truncation toward zero on BOTH sides: DuckDB's integer
            # `//` truncates (−150000 // 200000 = 0, not −1), and
            # cast(double) truncates the same way, so negative
            # balances land in band 0/−1/… identically
            (money_cents(F.col("c_acctbal")) / F.lit(KANON_BAND_CENTS))
            .cast("bigint")
            .alias("bal_band"),
        )
        .groupBy("nationkey", "segment", "bal_band")
        .agg(F.count("*").alias("class_size"))
    )
    return classes.where(F.col("class_size") < KANON_K)


# ---------------------------------------------------------------------------
# Sketch-based audience INTERSECTION via inclusion-exclusion:
# |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), each estimate from the same
# fixed-point HLL pipeline as hll_union_users (md5 registers, exact
# DECIMAL(38,0) harmonic sum, HUGEINT-safe scaled division, linear
# counting below the small-range threshold). This is the 100 TB twin
# of audience_overlap_bitmap: the exact bitmap needs the full id sets
# co-shuffled; the sketch path needs only the 256-register summaries,
# which union by register-max and never touch rows again. The exact
# intersection count rides alongside so the oracle pins both the
# arithmetic and the estimate's determinism (every input to the
# float ln()/rounding is an integer both engines derive identically).
# ---------------------------------------------------------------------------
_HLL_PAIR = ("view", "click")


def _hll_est_sql(regs: str) -> str:
    """DuckDB est pipeline over a (bucket, m) register CTE ``regs`` —
    the exact expression hll_union_users uses, parameterized."""
    return f"""(
      SELECT CASE WHEN est_scaled <= 6400000 AND v > 0
                  THEN ROUND(256 * ln(256.0 / v), 4)
                  ELSE CAST(est_scaled AS BIGINT) / 10000.0 END
      FROM (
        SELECT (256 - nb) AS v,
               CAST('{_HLL_N4}' AS HUGEINT)
                 // (2570790 * CAST(s + (256 - nb)
                     * CAST(power(2, 64) AS DECIMAL(38,0)) AS HUGEINT))
                 AS est_scaled
        FROM (
          SELECT CAST(SUM(CAST(power(2, 64 - m) AS DECIMAL(38,0)))
                   AS DECIMAL(38,0)) AS s,
                 COUNT(*) AS nb
          FROM {regs}
        )
      )
    )"""


@register(
    "hll_intersect_users",
    f"""
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx, user_id
      FROM events WHERE event_type IN ('{_HLL_PAIR[0]}', '{_HLL_PAIR[1]}')
    ),
    r AS (
      SELECT event_type,
             CAST(('0x' || substring(hx, 1, 2)) AS BIGINT) AS bucket,
             CAST(('0x' || substring(hx, 3, 15)) AS BIGINT) AS w
      FROM h
    ),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w = 0 THEN 61 ELSE 61 - length(bin(w)) END) AS m
      FROM r GROUP BY event_type, bucket
    ),
    ra AS (SELECT bucket, m FROM regs WHERE event_type = '{_HLL_PAIR[0]}'),
    rb AS (SELECT bucket, m FROM regs WHERE event_type = '{_HLL_PAIR[1]}'),
    ru AS (SELECT bucket, MAX(m) AS m FROM regs GROUP BY bucket),
    ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM (
        SELECT user_id FROM h WHERE event_type = '{_HLL_PAIR[0]}'
        INTERSECT
        SELECT user_id FROM h WHERE event_type = '{_HLL_PAIR[1]}'
      )
    )
    SELECT ex.n_exact AS n_exact_intersection,
           {_hll_est_sql('ra')} AS est_a,
           {_hll_est_sql('rb')} AS est_b,
           {_hll_est_sql('ru')} AS est_union,
           ROUND({_hll_est_sql('ra')} + {_hll_est_sql('rb')}
                 - {_hll_est_sql('ru')}, 4) AS hll_intersect_estimate
    FROM ex
    """,
)
def hll_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience intersection of two event types estimated by HLL inclusion-exclusion (register-only math), with the exact count alongside."""
    a, b = _HLL_PAIR
    e = (
        load_tables(spark, sf_dir)["events"]
        .where(F.col("event_type").isin(a, b))
        .select("event_type", "user_id")
    )
    h = e.withColumn("hx", F.md5(F.col("user_id").cast("string")))
    r = h.select(
        "event_type",
        F.conv(F.substring("hx", 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.conv(F.substring("hx", 3, 15), 16, 10).cast("bigint").alias("w"),
    )
    regs = r.groupBy("event_type", "bucket").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(61)).otherwise(
                F.lit(61) - F.length(F.bin(F.col("w")))
            )
        ).alias("m")
    )

    def est(reg_df: DataFrame, name: str) -> DataFrame:
        agg = reg_df.agg(
            F.sum(F.expr("CAST(power(2, 64 - m) AS DECIMAL(38,0))"))
            .cast("decimal(38,0)")
            .alias("s"),
            F.count("*").alias("nb"),
        )
        return agg.select(
            F.when(
                (
                    F.expr(
                        f"CAST(CAST('{_HLL_N4}' AS DECIMAL(38,0)) DIV "
                        "(CAST(2570790 AS DECIMAL(38,0)) * "
                        "(s + (256 - nb) * CAST(power(2, 64) AS DECIMAL(38,0)))) AS BIGINT)"
                    )
                    <= 6400000
                )
                & (F.lit(256) - F.col("nb") > 0),
                F.round(
                    F.lit(256) * F.log(F.lit(256.0) / (F.lit(256) - F.col("nb"))),
                    4,
                ),
            )
            .otherwise(
                F.expr(
                    f"CAST(CAST('{_HLL_N4}' AS DECIMAL(38,0)) DIV "
                    "(CAST(2570790 AS DECIMAL(38,0)) * "
                    "(s + (256 - nb) * CAST(power(2, 64) AS DECIMAL(38,0)))) AS BIGINT)"
                )
                / F.lit(10000.0)
            )
            .alias(name)
        )

    ea = est(regs.where(F.col("event_type") == a).select("bucket", "m"), "est_a")
    eb = est(regs.where(F.col("event_type") == b).select("bucket", "m"), "est_b")
    eu = est(
        regs.groupBy("bucket").agg(F.max("m").alias("m")).select("bucket", "m"),
        "est_union",
    )
    users_a = h.where(F.col("event_type") == a).select("user_id").distinct()
    users_b = h.where(F.col("event_type") == b).select("user_id").distinct()
    ex = (
        users_a.intersect(users_b)
        .agg(F.count("*").alias("n_exact_intersection"))
    )
    return (
        ex.crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            F.col("n_exact_intersection").cast("long"),
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("hll_intersect_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (the third OLAP grouping API next to CUBE and
# ROLLUP): an asymmetric set list CUBE can't express without waste —
# (year, status), (year, priority), (year), () — with GROUPING_ID
# disambiguating the null-as-total rows. One pass, Spark expands the
# sets inside a single Expand+HashAggregate (no N-scan union).
# ---------------------------------------------------------------------------
@register(
    "olap_grouping_sets",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           o_orderstatus,
           o_orderpriority,
           GROUPING(EXTRACT(year FROM o_orderdate), o_orderstatus,
                    o_orderpriority) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) / 100.0 AS revenue
    FROM orders
    GROUP BY GROUPING SETS (
      (EXTRACT(year FROM o_orderdate), o_orderstatus),
      (EXTRACT(year FROM o_orderdate), o_orderpriority),
      (EXTRACT(year FROM o_orderdate)),
      ()
    )
    """,
)
def olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric GROUPING SETS over orders: (year,status), (year,priority), (year), () with GROUPING_ID and exact-cents revenue."""
    o = load_tables(spark, sf_dir)["orders"]
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               o_orderstatus,
               o_orderpriority,
               CAST(grouping_id(year(o_orderdate), o_orderstatus,
                                o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    / 100.0 AS DOUBLE) AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS (
          (year(o_orderdate), o_orderstatus),
          (year(o_orderdate), o_orderpriority),
          (year(o_orderdate)),
          ()
        )
        """
    )


# ===========================================================================
# Large-scale analytics patterns: classic shapes that the sections
# above don't exercise — two-pass exact heavy hitters
# (Misra-Gries candidate pruning + exact verify), rolling distinct
# counts via the explode-contribution trick (no range join), Markov
# event-transition matrices, sweep-line peak concurrency, 2D skyline
# (Pareto frontier) via running-max windows, cross-document duplicated
# n-gram spans (Lee et al. 2022-style substring dedup signal), and the
# Gram-matrix (X^T X) aggregation that underlies distributed PCA.
#
# Every query has a full DuckDB oracle; floats only appear in final
# per-row divisions of already-exact integers (the money_cents recipe,
# `functions/exact_math.py`).
#
# Scale notes (100 TB):
# - heavy_hitters_users: pass 1 is a Misra-Gries summary per
#   partition (bounded O(K) state regardless of key cardinality — the
#   point at 100 TB, where a groupBy over all keys would shuffle every
#   distinct key); the merged candidate set is guaranteed a superset
#   of all true heavy hitters by the averaging argument (if global
#   freq > n/K then some partition has freq_p > n_p/K, and MG with K
#   counters never evicts such a key). Pass 2 exact-counts ONLY the
#   broadcast candidates, so the output is exact and oracle-equal while
#   the shuffle carries at most K x partitions keys.
# - rolling_distinct_users_7d: a trailing-window COUNT(DISTINCT) is
#   re-expressed as explode(day..day+6) + groupBy — 7x the *distinct*
#   (type, user, day) rows, one shuffle, no O(days x rows) range join
#   and no per-day re-scan.
# - peak_open_orders: interval overlap via sweep-line — intervals
#   collapse to a +1/-1 per-day delta histogram map-side; the window
#   runs over the tiny (group, day) domain, never the fact table.
# - skyline_parts: the 2D Pareto frontier needs no pairwise dominance
#   join — one sort per group and two running-max windows.
# - embedding_gram_matrix: X^T X by explode + self-join on the row
#   key + partial-aggregated groupBy — the shuffle carries d(d+1)/2
#   rows total, independent of row count. This is the covariance
#   pattern for PCA/whitening at any scale.
# ===========================================================================


# ---------------------------------------------------------------------------
# Two-pass exact heavy hitters: Misra-Gries candidate pruning, then
# an exact count restricted to the (broadcast) candidate set.
# Output = every user with count * K > n, with exact counts — so the
# oracle is a plain GROUP BY / HAVING, independent of the pruning.
# ---------------------------------------------------------------------------
HH_K = 2000


def misra_gries_candidates(batches, column: str, k: int = HH_K):
    """Streaming Misra-Gries over an iterator of pandas batches.

    State is capped at ``k`` counters: on overflow the (k+1)-th
    largest count is subtracted from every counter and non-positive
    entries are dropped. Any key whose partition frequency exceeds
    n_p/(k+1) is guaranteed to survive (each decrement round removes
    the same amount from > k keys, so total decrement <= n_p/(k+1)).
    """
    counters: dict = {}
    for pdf in batches:
        for key, c in pdf[column].value_counts().items():
            counters[key] = counters.get(key, 0) + int(c)
        if len(counters) > k:
            d = sorted(counters.values(), reverse=True)[k]
            counters = {u: v - d for u, v in counters.items() if v > d}
    yield pd.DataFrame({column: list(counters.keys())})


@register(
    "heavy_hitters_users",
    f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events)
    SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS cnt, MAX(n.n_total) AS n_total
    FROM events e CROSS JOIN n
    GROUP BY e.user_id
    HAVING COUNT(*) * {HH_K} > MAX(n.n_total)
    """,
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users with strictly more than n/{K} of all events, exactly.

    Pass 1 (Misra-Gries summaries, O(K) state per partition) only
    prunes; pass 2 exact-counts the broadcast candidates, so the
    result is identical to the full groupBy — but the shuffle carries
    candidates only.
    """
    e = load_tables(spark, sf_dir)["events"].select("user_id")

    def mg(batches):
        yield from misra_gries_candidates(batches, "user_id", HH_K)

    cand = e.mapInPandas(mg, "user_id bigint").distinct()
    counts = (
        e.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    n = e.agg(F.count("*").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(n))
        .where(F.col("cnt") * HH_K > F.col("n_total"))
        .select("user_id", "cnt", "n_total")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users per event type, via the
# explode-contribution trick: each distinct (type, user, day) row
# contributes to the 7 window-end days day..day+6; one groupBy
# computes every window. Output keeps only days the type was active.
# ---------------------------------------------------------------------------
@register(
    "rolling_distinct_users_7d",
    """
    WITH du AS (
      SELECT DISTINCT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             user_id
      FROM events
    ),
    days AS (SELECT DISTINCT event_type, day FROM du)
    SELECT d.event_type, d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_7d
    FROM days d
    JOIN du u ON u.event_type = d.event_type AND u.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1, 2
    """,
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per event type.

    COUNT(DISTINCT) over a sliding window has no direct window-frame
    form; the scalable plan explodes each distinct (type, user, day)
    into its 7 contribution days and aggregates once — the oracle
    states the same result as a (quadratic) range join.
    """
    du = (
        load_tables(spark, sf_dir)["events"]
        .select("event_type", F.expr("ts_sec div 86400").alias("day"), "user_id")
        .distinct()
    )
    contrib = du.select(
        "event_type",
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + F.lit(6))).alias("d"),
    )
    days = du.select("event_type", F.col("day").alias("d")).distinct()
    return (
        contrib.join(days, ["event_type", "d"], "left_semi")
        .groupBy("event_type", F.col("d").alias("day"))
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


# ---------------------------------------------------------------------------
# Markov transition matrix of event types: P(next | current) from
# each user's time-ordered event sequence.
# ---------------------------------------------------------------------------
@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    c AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c_pair
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT cur, nxt, c_pair,
           CAST(SUM(c_pair) OVER (PARTITION BY cur) AS BIGINT) AS c_from,
           ROUND(c_pair * 1.0 / SUM(c_pair) OVER (PARTITION BY cur), 6) AS p_cond
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(next event type | current) over per-user event sequences.

    One shuffle by user_id for the sequence window (the natural
    partitioning — each user's history is processed where it lands),
    then a count over the tiny |types|^2 domain; the division happens
    once per output row on final integers.
    """
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", "ts_ns", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    c = seq.groupBy("cur", "nxt").agg(F.count("*").alias("c_pair"))
    wc = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        "c_pair",
        F.sum("c_pair").over(wc).alias("c_from"),
        F.round(F.col("c_pair") / F.sum("c_pair").over(wc), 6).alias("p_cond"),
    )


# ---------------------------------------------------------------------------
# Peak concurrent open orders per priority, sweep-line style. An
# order is open from o_orderdate until its last lineitem ships.
# ---------------------------------------------------------------------------
@register(
    "peak_open_orders",
    """
    WITH closes AS (
      SELECT l_orderkey, MAX(l_shipdate) AS close_date FROM lineitem GROUP BY 1
    ),
    iv AS (
      SELECT o.o_orderpriority AS priority,
             CAST(datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS sd,
             CAST(datediff('day', DATE '1970-01-01', CAST(c.close_date AS DATE)) AS BIGINT) + 1 AS ed
      FROM orders o JOIN closes c ON c.l_orderkey = o.o_orderkey
    ),
    deltas AS (
      SELECT priority, sd AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT priority, ed AS day, -1 AS delta FROM iv
    ),
    daily AS (
      SELECT priority, day, CAST(SUM(delta) AS BIGINT) AS delta
      FROM deltas GROUP BY 1, 2
    ),
    run AS (
      SELECT priority, day,
             SUM(delta) OVER (PARTITION BY priority ORDER BY day) AS open_orders
      FROM daily
    ),
    peak AS (SELECT priority, MAX(open_orders) AS peak FROM run GROUP BY 1)
    SELECT r.priority, CAST(p.peak AS BIGINT) AS peak,
           strftime(DATE '1970-01-01' + CAST(MIN(r.day) AS INTEGER), '%Y-%m-%d')
             AS first_peak_day
    FROM run r JOIN peak p ON p.priority = r.priority AND r.open_orders = p.peak
    GROUP BY 1, 2
    """,
)
def peak_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max simultaneously-open orders per priority + first day it hits.

    Sweep-line: each interval becomes a +1/-1 delta, deltas collapse
    to a per-(priority, day) histogram with map-side combine, and one
    window over that tiny domain yields the running concurrency. The
    fact tables are never sorted or windowed directly.
    """
    t = load_tables(spark, sf_dir)
    epoch = F.to_date(F.lit("1970-01-01"))
    closes = t["lineitem"].groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_date")
    )
    iv = (
        t["orders"]
        .join(closes, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(F.col("o_orderdate"), epoch).cast("long").alias("sd"),
            (F.datediff(F.col("close_date"), epoch).cast("long") + 1).alias("ed"),
        )
    )
    deltas = iv.select(
        "priority", F.col("sd").alias("day"), F.lit(1).alias("delta")
    ).unionAll(iv.select("priority", F.col("ed").alias("day"), F.lit(-1).alias("delta")))
    daily = deltas.groupBy("priority", "day").agg(F.sum("delta").alias("delta"))
    w = Window.partitionBy("priority").orderBy("day")
    run = daily.select(
        "priority", "day", F.sum("delta").over(w).alias("open_orders")
    )
    peak = run.groupBy(F.col("priority").alias("p_prio")).agg(
        F.max("open_orders").alias("peak")
    )
    return (
        run.join(
            F.broadcast(peak),
            (F.col("priority") == F.col("p_prio"))
            & (F.col("open_orders") == F.col("peak")),
        )
        .groupBy("priority", F.col("peak").cast("long").alias("peak"))
        .agg(
            F.date_format(
                F.date_add(epoch, F.min("day").cast("int")), "yyyy-MM-dd"
            ).alias("first_peak_day")
        )
    )


# ---------------------------------------------------------------------------
# 2D skyline (Pareto frontier) per brand: minimize price, maximize
# size. No pairwise dominance join — two running-max windows.
# ---------------------------------------------------------------------------
@register(
    "skyline_parts",
    """
    WITH p AS (
      SELECT p_brand, p_partkey,
             CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS cents, p_size
      FROM part
    ),
    sk AS (
      SELECT *,
             MAX(p_size) OVER (PARTITION BY p_brand ORDER BY cents
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_less,
             MAX(p_size) OVER (PARTITION BY p_brand, cents) AS m_eq
      FROM p
    )
    SELECT p_brand, p_partkey, cents / 100.0 AS price, p_size
    FROM sk
    WHERE (m_less IS NULL OR m_less < p_size) AND p_size = m_eq
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts per brand (cheapest-for-their-size).

    A part is dominated iff a strictly cheaper part is at least as
    large, or an equal-priced part is strictly larger. Both checks are
    running-max windows over one per-brand sort — O(n log n), versus
    the O(n^2) NOT EXISTS the oracle would naively use.
    """
    p = load_tables(spark, sf_dir)["part"].select(
        "p_brand",
        "p_partkey",
        money_cents(F.col("p_retailprice")).alias("cents"),
        "p_size",
    )
    w_less = (
        Window.partitionBy("p_brand")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("p_brand", "cents")
    sk = p.select(
        "p_brand",
        "p_partkey",
        "cents",
        "p_size",
        F.max("p_size").over(w_less).alias("m_less"),
        F.max("p_size").over(w_eq).alias("m_eq"),
    )
    return sk.where(
        (F.col("m_less").isNull() | (F.col("m_less") < F.col("p_size")))
        & (F.col("p_size") == F.col("m_eq"))
    ).select(
        "p_brand", "p_partkey", (F.col("cents") / 100.0).alias("price"), "p_size"
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated word-5-gram spans — the signal behind
# substring-level training-data dedup (Lee et al. 2022): which exact
# spans repeat across distinct documents, and how often.
# ---------------------------------------------------------------------------
_NGRAM_N = 5


def _lead_concat_sql() -> str:
    leads = " || ' ' || ".join(
        ["term"] + [f"LEAD(term, {k}) OVER w" for k in range(1, _NGRAM_N)]
    )
    return f"""
    , g AS (
      SELECT doc_id, {leads} AS gram,
             LEAD(term, {_NGRAM_N - 1}) OVER w AS t_last
      FROM pos
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    )
    SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g WHERE t_last IS NOT NULL
    GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    """


def _duplicated_ngrams_oracle() -> str:
    from erkg_tutorials_spark.plans.llmops import _POS_CTE

    return _POS_CTE + _lead_concat_sql()


@register("dedup_duplicated_ngrams", _duplicated_ngrams_oracle())
def dedup_duplicated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-5-gram spans appearing in >= 2 distinct documents.

    Sliding n-grams come from LEAD windows inside each document's
    partition (documents are the natural unit of parallelism — no
    cross-doc data motion to build grams), then one gram-keyed count
    with map-side combine. Common-gram skew only ever concentrates
    counters, not rows, because the combine is partial.
    """
    from erkg_tutorials_spark.plans.llmops import _positions

    pos = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("term")] + [
        F.lead("term", k).over(w) for k in range(1, _NGRAM_N)
    ]
    g = pos.select(
        "doc_id",
        F.when(
            F.lead("term", _NGRAM_N - 1).over(w).isNotNull(),
            F.concat_ws(" ", *parts),
        ).alias("gram"),
    ).where(F.col("gram").isNotNull())
    return (
        g.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Gram matrix X^T X over the embedding table — the aggregation that
# powers distributed PCA / whitening. Elements are quantized to 1e-6
# so the sums are exact integers (order-independent across engines).
# ---------------------------------------------------------------------------
_Q = 1_000_000


@register(
    "embedding_gram_matrix",
    f"""
    WITH x AS (
      SELECT vec_id, CAST(i AS BIGINT) AS i,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_Q}, 0) AS BIGINT) AS q
      FROM embeddings
      CROSS JOIN unnest(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT a.i AS i, b.i AS j,
           CAST(SUM(a.q * b.q) AS BIGINT) AS s,
           ROUND(SUM(a.q * b.q) / {float(_Q) ** 2}, 6) AS gram
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular X^T X over the embedding column.

    explode -> self-join on vec_id -> groupBy (i, j): the join is
    co-partitioned on the row key (each vector's d(d+1)/2 products
    are formed where the vector lives) and the partial-aggregated
    shuffle carries exactly d(d+1)/2 rows regardless of table size.
    Quantizing each element to 1e-6 (a deterministic per-row IEEE op)
    makes the sums exact BIGINTs — float summation would be
    partial-aggregation-order-dependent.
    """
    x = (
        load_tables(spark, sf_dir)["embeddings"]
        .select("vec_id", F.posexplode("embedding").alias("i0", "xe"))
        .select(
            "vec_id",
            (F.col("i0") + 1).cast("long").alias("i"),
            F.round(F.col("xe").cast("double") * _Q, 0).cast("long").alias("q"),
        )
    )
    a = x.alias("a")
    b = x.alias("b")
    return (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") <= F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.q") * F.col("b.q")).alias("s"))
        .select(
            "i",
            "j",
            F.col("s").cast("long").alias("s"),
            F.round(F.col("s") / F.lit(float(_Q) ** 2), 6).alias("gram"),
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation via value-based quartile cuts. No global
# NTILE (an empty-partition window = one task over every customer at
# scale); instead the nearest-rank p25/p50/p75 of each metric come
# from per-metric histograms and scoring is a broadcast-join compare.
# Ties share a score (value-based quartiles), which is also the more
# meaningful semantics for segmentation.
# ---------------------------------------------------------------------------
@register(
    "rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey AS custkey,
             MAX(CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(last_day) AS maxd FROM base),
    cust AS (
      SELECT b.custkey, mx.maxd - b.last_day AS recency_days, b.frequency, b.cents
      FROM base b CROSS JOIN mx
    ),
    mvals AS (
      SELECT custkey, 'r' AS metric, -recency_days AS v FROM cust
      UNION ALL SELECT custkey, 'f', frequency FROM cust
      UNION ALL SELECT custkey, 'm', cents FROM cust
    ),
    hist AS (SELECT metric, v, CAST(COUNT(*) AS BIGINT) AS c FROM mvals GROUP BY 1, 2),
    cum AS (
      SELECT metric, v, c,
             SUM(c) OVER (PARTITION BY metric ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY metric) AS n
      FROM hist
    ),
    cuts AS (
      SELECT metric,
             MIN(CASE WHEN cum >= (n * 25 + 99) // 100 THEN v END) AS q25,
             MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END) AS q50,
             MIN(CASE WHEN cum >= (n * 75 + 99) // 100 THEN v END) AS q75
      FROM cum GROUP BY 1
    ),
    scored AS (
      SELECT mv.custkey, mv.metric,
             1 + CASE WHEN mv.v > c.q25 THEN 1 ELSE 0 END
               + CASE WHEN mv.v > c.q50 THEN 1 ELSE 0 END
               + CASE WHEN mv.v > c.q75 THEN 1 ELSE 0 END AS score
      FROM mvals mv JOIN cuts c ON c.metric = mv.metric
    )
    SELECT cu.custkey, cu.recency_days, cu.frequency, cu.cents / 100.0 AS monetary,
           CAST(MAX(CASE WHEN s.metric = 'r' THEN s.score END) AS BIGINT) AS r_score,
           CAST(MAX(CASE WHEN s.metric = 'f' THEN s.score END) AS BIGINT) AS f_score,
           CAST(MAX(CASE WHEN s.metric = 'm' THEN s.score END) AS BIGINT) AS m_score,
           CAST(MAX(CASE WHEN s.metric = 'r' THEN s.score END) * 100
              + MAX(CASE WHEN s.metric = 'f' THEN s.score END) * 10
              + MAX(CASE WHEN s.metric = 'm' THEN s.score END) AS BIGINT) AS segment
    FROM cust cu JOIN scored s ON s.custkey = cu.custkey
    GROUP BY 1, 2, 3, 4
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-quartile RFM scores per customer (4 = best tier).

    One groupBy to customer grain, then each metric's nearest-rank
    p25/p50/p75 via the histogram pattern (windows run over per-metric
    distinct-value histograms, partitioned by metric — never an
    empty-partition NTILE over all customers), and scoring is a
    3-row broadcast-join comparison. Recency scores through its
    negation so "more recent" ranks high like the other metrics.
    """
    o = load_tables(spark, sf_dir)["orders"]
    epoch = F.to_date(F.lit("1970-01-01"))
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.datediff(F.col("o_orderdate"), epoch).cast("long")).alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum(money_cents(F.col("o_totalprice"))).alias("cents"),
    )
    mx = base.agg(F.max("last_day").alias("maxd"))
    cust = base.crossJoin(F.broadcast(mx)).select(
        "custkey",
        (F.col("maxd") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "cents",
    )
    mvals = (
        cust.select("custkey", F.lit("r").alias("metric"), (-F.col("recency_days")).alias("v"))
        .unionAll(cust.select("custkey", F.lit("f"), F.col("frequency")))
        .unionAll(cust.select("custkey", F.lit("m"), F.col("cents")))
    )
    hist = mvals.groupBy("metric", "v").agg(F.count("*").alias("c"))
    w_cum = Window.partitionBy("metric").orderBy("v")
    w_all = Window.partitionBy("metric")
    cum = hist.select(
        "metric",
        "v",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    cuts = cum.groupBy("metric").agg(
        *[
            F.min(
                F.when(F.col("cum") >= F.expr(f"(n * {p} + 99) div 100"), F.col("v"))
            ).alias(f"q{p}")
            for p in (25, 50, 75)
        ]
    )
    scored = mvals.join(F.broadcast(cuts), "metric").select(
        "custkey",
        "metric",
        (
            F.lit(1)
            + (F.col("v") > F.col("q25")).cast("int")
            + (F.col("v") > F.col("q50")).cast("int")
            + (F.col("v") > F.col("q75")).cast("int")
        ).alias("score"),
    )
    pivoted = scored.groupBy("custkey").agg(
        *[
            F.max(F.when(F.col("metric") == m, F.col("score"))).alias(f"{m}_score")
            for m in ("r", "f", "m")
        ]
    )
    return cust.join(pivoted, "custkey").select(
        "custkey",
        "recency_days",
        "frequency",
        (F.col("cents") / 100.0).alias("monetary"),
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("long")
        .alias("segment"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: exact median + MAD per event type from
# ONE value histogram (the nearest-rank pattern of
# exact_percentiles_orders, applied twice without re-scanning facts).
# ---------------------------------------------------------------------------
@register(
    "mad_outliers_events",
    """
    WITH hist AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    med AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS median_cents
      FROM cum GROUP BY event_type
    ),
    dev_hist AS (
      SELECT h.event_type, ABS(h.cents - m.median_cents) AS adev,
             CAST(SUM(h.c) AS BIGINT) AS c
      FROM hist h JOIN med m ON m.event_type = h.event_type
      GROUP BY 1, 2
    ),
    dev_cum AS (
      SELECT event_type, adev, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY adev) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM dev_hist
    ),
    mad AS (
      SELECT event_type,
             MIN(CASE WHEN cum >= (n + 1) // 2 THEN adev END) AS mad_cents
      FROM dev_cum GROUP BY event_type
    )
    SELECT m.event_type, m.n, m.median_cents / 100.0 AS median_value,
           d.mad_cents / 100.0 AS mad_value,
           CAST(COALESCE(SUM(CASE WHEN dh.adev > 3 * d.mad_cents THEN dh.c END), 0) AS BIGINT)
             AS n_outliers
    FROM med m
    JOIN mad d ON d.event_type = m.event_type
    JOIN dev_hist dh ON dh.event_type = m.event_type
    GROUP BY 1, 2, 3, 4
    """,
)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median, MAD, and |x - med| > 3*MAD outlier counts per event type.

    Both medians come from the SAME (type, cents) histogram — the
    deviation histogram is derived from it by re-keying, so the raw
    event table is scanned once no matter how many robust statistics
    are stacked on top. All comparisons are integer-exact.
    """
    e = load_tables(spark, sf_dir)["events"].select(
        "event_type", money_cents(F.col("value")).alias("cents")
    )
    hist = e.groupBy("event_type", "cents").agg(F.count("*").alias("c"))
    w_cum = Window.partitionBy("event_type").orderBy("cents")
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("median_cents"),
    )
    dev_hist = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            F.abs(F.col("cents") - F.col("median_cents")).alias("adev"),
        )
        .agg(F.sum("c").alias("c"))
    )
    w_dcum = Window.partitionBy("event_type").orderBy("adev")
    dev_cum = dev_hist.select(
        "event_type",
        "adev",
        "c",
        F.sum("c").over(w_dcum).alias("cum"),
        F.sum("c").over(w_all).alias("dn"),
    )
    mad = dev_cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(dn + 1) div 2"), F.col("adev"))
        ).alias("mad_cents")
    )
    return (
        dev_hist.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy(
            "event_type",
            "n",
            (F.col("median_cents") / 100.0).alias("median_value"),
            (F.col("mad_cents") / 100.0).alias("mad_value"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("adev") > 3 * F.col("mad_cents"), F.col("c"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers")
        )
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis A-ES with a
# hash-derived uniform instead of RNG state): each row draws
# u = md5-uniform in (0,1) and ranks by ln(u)/w — the same ordering
# as the textbook u^(1/w) key, without pow. P(row in sample) is
# proportional-to-weight-without-replacement; the hash makes the
# "draw" reproducible under retries/stragglers, which RNG-state
# sampling is not. ln is quantized to 1e-6 integers before ranking
# (the doc_perplexity_bigram precedent), with the unique key as
# tie-break, so both engines cut the top-k identically.
# ---------------------------------------------------------------------------
WSAMPLE_K = 200


@register(
    "sample_weighted_orders",
    f"""
    WITH keyed AS (
      SELECT o_orderpriority AS priority, o_orderkey,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS weight_cents,
             CAST(ROUND(
               ln((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                  / 4503599627370497.0)
               / (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) / 100.0)
               * 1000000, 0) AS BIGINT) AS qkey
      FROM orders
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY priority
                                   ORDER BY qkey DESC, o_orderkey) AS rn
      FROM keyed
    )
    SELECT priority, o_orderkey, weight_cents / 100.0 AS weight, qkey
    FROM ranked WHERE rn <= {WSAMPLE_K}
    """,
)
def sample_weighted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} weighted sample of orders per priority (A-ES keys).

    One window per priority partition over the keyed rows; at scale
    the per-group top-k would first take a per-partition top-k
    (partial) before the shuffle — Spark's rank-limit pushdown does
    this for ROW_NUMBER + filter. Weights are exact cents; the only
    float ops are the fixed ln-key expression, quantized before
    ranking.
    """
    o = load_tables(spark, sf_dir)["orders"]
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13), 16, 10)
        .cast("long")
        + 1
    ) / F.lit(4503599627370497.0)
    w = money_cents(F.col("o_totalprice")) / 100.0
    keyed = o.select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        money_cents(F.col("o_totalprice")).alias("weight_cents"),
        F.round(F.log(u) / w * 1_000_000, 0).cast("long").alias("qkey"),
    )
    rn = F.row_number().over(
        Window.partitionBy("priority").orderBy(F.col("qkey").desc(), "o_orderkey")
    )
    return (
        keyed.withColumn("rn", rn)
        .where(F.col("rn") <= WSAMPLE_K)
        .select(
            "priority",
            "o_orderkey",
            (F.col("weight_cents") / 100.0).alias("weight"),
            "qkey",
        )
    )


# ---------------------------------------------------------------------------
# ExactSubstr-style removal spans (Lee et al. 2021 §4.1, public
# paper: drop substrings shared verbatim across documents): the
# per-document transform built on the cross-doc duplicated-5-gram
# table above. Every occurrence of a gram that appears in ≥ 2
# distinct documents marks word positions [i, i+4]; overlapping and
# back-to-back marks merge into maximal removal spans by the classic
# gaps-and-islands device (a new island starts where the start
# exceeds the running max end of PRIOR marks — one ordered window per
# doc, exclusive upper frame, exactly like events_gaps_islands).
#
# Scale: grams and marks stay partitioned by doc; the only cross-doc
# motion is the gram-keyed duplicate count (map-side combinable) and
# the gram-keyed semi-join back onto occurrences — the shape the
# suffix-array original cannot parallelize and this formulation can.
# ---------------------------------------------------------------------------


def _substring_spans_oracle() -> str:
    from erkg_tutorials_spark.plans.llmops import _POS_CTE

    n = _NGRAM_N
    leads = " || ' ' || ".join(
        ["term"] + [f"LEAD(term, {k}) OVER w" for k in range(1, n)]
    )
    return _POS_CTE + f"""
    , g AS (
      SELECT doc_id, i, {leads} AS gram,
             LEAD(term, {n - 1}) OVER w AS t_last
      FROM pos
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    occ AS (SELECT doc_id, i, gram FROM g WHERE t_last IS NOT NULL),
    dup AS (
      SELECT gram FROM occ GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    marks AS (
      SELECT o.doc_id, o.i AS s, o.i + {n - 1} AS e
      FROM occ o JOIN dup d ON d.gram = o.gram
    ),
    isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) THEN 1 ELSE 0 END AS brk
      FROM marks
    ),
    grp AS (
      SELECT doc_id, s, e,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    )
    SELECT doc_id, CAST(island AS BIGINT) AS island,
           CAST(MIN(s) AS BIGINT) AS span_start,
           CAST(MAX(e) AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_marks,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_words
    FROM grp GROUP BY doc_id, island
    """


@register("dedup_substring_spans", _substring_spans_oracle())
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal spans: maximal merged word-position intervals covered by cross-document duplicated 5-grams, per document."""
    from erkg_tutorials_spark.plans.llmops import _positions

    pos = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    parts = [F.col("term")] + [
        F.lead("term", k).over(w) for k in range(1, _NGRAM_N)
    ]
    occ = pos.select(
        "doc_id",
        "i",
        F.when(
            F.lead("term", _NGRAM_N - 1).over(w).isNotNull(),
            F.concat_ws(" ", *parts),
        ).alias("gram"),
    ).where(F.col("gram").isNotNull())
    dup = (
        occ.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    marks = occ.join(dup, "gram").select(
        "doc_id",
        F.col("i").alias("s"),
        (F.col("i") + _NGRAM_N - 1).alias("e"),
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = marks.withColumn(
        "brk",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(wprev), F.lit(-1).cast("long")),
            1,
        ).otherwise(0),
    )
    wrun = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = isl.withColumn(
        "island", F.sum("brk").over(wrun).cast("long")
    )
    return grp.groupBy("doc_id", "island").agg(
        F.min("s").cast("long").alias("span_start"),
        F.max("e").cast("long").alias("span_end"),
        F.count("*").cast("long").alias("n_marks"),
        (F.max("e") - F.min("s") + 1).cast("long").alias("span_words"),
    )


# ===========================================================================
# Exact-result scale primitives that the
# approximate families deliberately avoid —
#
# * ``simjoin_prefix_filter``: an EXACT set-similarity self-join
#   (shingle Jaccard >= tau) via AllPairs-style prefix filtering
#   (Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06). Unlike the
#   MinHash/SimHash/LSH paths (which trade recall for speed), prefix
#   filtering is a *complete* pruning: the candidate set provably
#   contains every qualifying pair, so the verified output equals the
#   brute-force pairwise join bit-for-bit while shuffling only each
#   document's rarest-token prefix.
# * ``bloom_prefilter_orders``: a deterministic Bloom filter built
#   from a dimension key set and probed by the fact table, with exact
#   false-positive accounting — the runtime-prefilter pattern
#   quantified (vs ``runtime_prefilter_join``'s exact-set variant).
# * ``winsorized_event_stats``: exact nearest-rank p01/p99
#   winsorization per group from a value histogram — the standard
#   robust-stats cleanup before training-data aggregation, computed
#   without any single-task global sort.
#
# Every query has a full DuckDB oracle; ratios are single divisions of
# already-exact integers (the money_cents / quantize-then-sum recipe).
#
# Scale notes (100 TB):
# - simjoin_prefix_filter: the prefix join's left side carries only
#   ``|x| - ceil(tau*|x|) + 1`` tokens per record (half the tokens at
#   tau=0.5), ordered rarest-first so hot shingles almost never appear
#   in any prefix; the verify join touches only surviving candidate
#   pairs. No all-pairs product anywhere. Production PPJoin adds
#   positional upper bounds on top; the completeness argument (below)
#   is unchanged.
# - bloom_prefilter_orders: the bitset is bounded (M_BITS rows max)
#   and broadcast; the fact table is scanned once map-side with no
#   shuffle before the pass/fail verdict. At 100 TB the "expensive
#   join" behind the filter only sees the pass rows.
# - winsorized_event_stats: percentiles come from the per-group
#   histogram of DISTINCT cent values (bounded domain), windowed per
#   group — the fact table itself is never sorted.
# ===========================================================================


# ---------------------------------------------------------------------------
# Exact Jaccard similarity self-join via prefix filtering.
#
# tau is carried as the integer fraction TAU_NUM/TAU_DEN so every
# threshold comparison is integer-exact in both engines:
#   J(A,B) >= tau  <=>  ni * TAU_DEN >= TAU_NUM * (|A| + |B| - ni).
#
# Completeness of the pruning (docstring math the tests pin):
# canonicalize |A| <= |B|. J >= tau implies the overlap o satisfies
# o(1+tau) >= tau(|A| + |B|) >= tau(|B| + o), i.e. o >= tau*|B|, so
# o >= ceil(tau*|B|) >= ceil(tau*|A|). If A shares NO token with B
# inside A's prefix (its first |A| - ceil(tau*|A|) + 1 tokens in the
# global rarest-first order), every common token lies in A's suffix
# of size ceil(tau*|A|) - 1, so o < ceil(tau*|A|) — contradiction.
# Hence joining the SMALLER record's prefix against the larger
# record's FULL token set misses nothing; the size bound
# |B| <= |A|/tau (from o <= |A| and o >= tau*|B|) prunes further.
# ---------------------------------------------------------------------------
SIMJOIN_TAU_NUM = 1
SIMJOIN_TAU_DEN = 2  # tau = 0.5


@register(
    "simjoin_prefix_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
      FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS ni
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(ni * 1.0 / (za.n + zb.n - ni), 6) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE ni * {SIMJOIN_TAU_DEN} >= {SIMJOIN_TAU_NUM} * (za.n + zb.n - ni)
    """,
)
def simjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= 1/2, EXACTLY,
    via prefix filtering — same output as the brute-force oracle,
    but the candidate join only shuffles each doc's rarest-token
    prefix instead of its full shingle set.

    Reference analogue: the tutorials dedup entities by pairwise
    name similarity over blocked candidates; this is the exact
    set-overlap version of that blocking, with a proof of
    completeness instead of a recall target.
    """
    from erkg_tutorials_spark.dedup.minhash import shingles
    from erkg_tutorials_spark.plans.memo import memoized_sized

    t = load_tables(spark, sf_dir)
    # shares the containment query's memoized shingle table
    sh = memoized_sized(
        spark, sf_dir, "containment_doc_shingles",
        lambda: shingles(t["documents"], k=3),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))

    # per-doc rarest-first prefix: first n - ceil(tau*n) + 1 tokens.
    # ceil(tau*n) computed in integers: (n*NUM + DEN - 1) div DEN.
    # ``pos`` is the token's rank over the doc's FULL sorted set (the
    # positional filter below needs absolute positions, not
    # prefix-relative ones).
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pref = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(
            F.col("pos")
            <= F.col("n")
            - F.expr(
                f"(n * {SIMJOIN_TAU_NUM} + {SIMJOIN_TAU_DEN} - 1) "
                f"div {SIMJOIN_TAU_DEN}"
            )
            + 1
        )
        .select("doc_id", "n", "shingle", "pos")
    )
    # PPJoin (r9 VERDICT item 5): candidates come from a PREFIX ×
    # PREFIX self-join, not prefix × full-token-set. Completeness: for
    # a qualifying pair with |A| <= |B|, o >= ceil(tau*|B|) =: alpha
    # (derivation above), and the AllPairs lemma says the prefixes of
    # length |A|-alpha+1 and |B|-alpha+1 share a token; each side's
    # own n-ceil(tau*n)+1 prefix is a superset of that (alpha >=
    # ceil(tau*n) on both). Halves the candidate-join shuffle at
    # tau=1/2 — the suffix tokens never leave the scan.
    a = pref.select(
        F.col("doc_id").alias("ia"),
        F.col("n").alias("na"),
        "shingle",
        F.col("pos").alias("pa"),
    )
    b = pref.select(
        F.col("doc_id").alias("ib"),
        F.col("n").alias("nb"),
        "shingle",
        F.col("pos").alias("pb"),
    )
    cand = (
        a.join(b, "shingle")
        .where(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("ia") < F.col("ib")))
        )
        # length filter: tau*|B| <= |A|
        .where(F.col("nb") * SIMJOIN_TAU_NUM <= F.col("na") * SIMJOIN_TAU_DEN)
        # positional filter (PPJoin): a common token at sorted
        # positions (pa, pb) caps the overlap at
        # 1 + min(na - pa, nb - pb) when it is the pair's FIRST common
        # token (all later common tokens sit after it on both sides);
        # the pair qualifies only if o*(DEN+NUM) >= NUM*(na+nb), so a
        # row failing that bound cannot be the first-common-token row
        # of a qualifying pair. Integer-exact, ANY-row-survives
        # semantics via the distinct() below.
        .where(
            (1 + F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")))
            * (SIMJOIN_TAU_DEN + SIMJOIN_TAU_NUM)
            >= SIMJOIN_TAU_NUM * (F.col("na") + F.col("nb"))
        )
        .select("ia", "ib", "na", "nb")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("ia"), "shingle")
    sb = sh.select(F.col("doc_id").alias("ib"), "shingle")
    verified = (
        cand.join(sa, "ia")
        .join(sb, ["ib", "shingle"])
        .groupBy("ia", "ib", "na", "nb")
        .agg(F.count("*").cast("long").alias("ni"))
        .where(
            F.col("ni") * SIMJOIN_TAU_DEN
            >= SIMJOIN_TAU_NUM * (F.col("na") + F.col("nb") - F.col("ni"))
        )
    )
    # oracle convention: id_a < id_b (ours is size-canonical)
    return verified.select(
        F.least("ia", "ib").alias("id_a"),
        F.greatest("ia", "ib").alias("id_b"),
        F.round(
            F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")), 6
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Exact edit-distance self-join via deletion neighborhoods (FastSS,
# Bocek et al. 2007 tech report; the SymSpell scheme). For d = 1:
#   ed(s, t) <= 1  ==>  D1(s) ∩ D1(t) != ∅
# where D1(x) = {x} ∪ {x with one char deleted} — a substitution at
# position i makes both sides equal after deleting position i; an
# insertion/deletion makes one side equal to the other's 0-deletion.
# The converse does NOT hold (sharing a variant only bounds ed <= 2),
# so candidates are verified with levenshtein(). This prunes where
# q-gram count filtering cannot: strings sharing a long constant
# prefix (every TPC-H supplier name starts "Supplier#") share most
# q-grams, but share a deletion variant only if they differ in at
# most ~2 positions.
# ---------------------------------------------------------------------------
EDIT_DMAX = 1


@register(
    "simjoin_edit_distance",
    f"""
    WITH s AS (SELECT s_suppkey, s_name FROM supplier)
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS edit_dist
    FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
    WHERE abs(length(a.s_name) - length(b.s_name)) <= {EDIT_DMAX}
      AND levenshtein(a.s_name, b.s_name) <= {EDIT_DMAX}
    """,
)
def simjoin_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All supplier-name pairs within edit distance {EDIT_DMAX},
    EXACTLY, via the deletion-neighborhood join: each name explodes
    into length+1 deletion variants, candidates are pairs sharing a
    variant (provably a superset of every qualifying pair), and a
    levenshtein() verify pass makes the output equal to the
    brute-force pairwise join. The equi-join on variants shuffles
    O(n * len) short keys instead of materializing the n^2 product.
    """
    s = load_tables(spark, sf_dir)["supplier"].select("s_suppkey", "s_name")
    variants = s.select(
        "s_suppkey",
        "s_name",
        F.explode(
            F.expr(
                "array_union(array(s_name), transform(sequence(1, length(s_name)), "
                "i -> concat(substring(s_name, 1, i - 1), "
                "substring(s_name, i + 1, length(s_name)))))"
            )
        ).alias("v"),
    )
    a = variants.select(
        F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("name_a"), "v"
    )
    b = variants.select(
        F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("name_b"), "v"
    )
    cand = (
        a.join(b, "v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "name_a", "id_b", "name_b")
        .distinct()
    )
    return cand.where(
        F.levenshtein("name_a", "name_b") <= EDIT_DMAX
    ).select(
        "id_a",
        "id_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
    )


# ---------------------------------------------------------------------------
# Deterministic Bloom filter build + probe with exact FP accounting.
# Hash family: h_i(x) = md5("<x>#<i>") first 15 hex digits as int,
# mod M_BITS — byte-identical in Spark (conv(...,16,10)) and DuckDB
# (CAST('0x'||... AS BIGINT)), so the bitset, the pass set, and the
# false-positive count are all exactly reproducible.
# ---------------------------------------------------------------------------
BLOOM_M_BITS = 16384
BLOOM_K = 3
_BLOOM_SEGMENT = "AUTOMOBILE"


@register(
    "bloom_prefilter_orders",
    f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey FROM customer
      WHERE c_mktsegment = '{_BLOOM_SEGMENT}'
    ),
    bits AS (
      SELECT DISTINCT
        CAST(('0x' || substr(
          md5(CAST(c_custkey AS VARCHAR) || '#' || CAST(i AS VARCHAR)),
          1, 15)) AS BIGINT) % {BLOOM_M_BITS} AS pos
      FROM keys CROSS JOIN unnest(generate_series(0, {BLOOM_K - 1})) AS t(i)
    ),
    probe AS (
      SELECT o.o_orderkey, o.o_custkey, t.i,
        CAST(('0x' || substr(
          md5(CAST(o.o_custkey AS VARCHAR) || '#' || CAST(t.i AS VARCHAR)),
          1, 15)) AS BIGINT) % {BLOOM_M_BITS} AS pos
      FROM orders o CROSS JOIN unnest(generate_series(0, {BLOOM_K - 1})) AS t(i)
    ),
    verdict AS (
      SELECT p.o_orderkey, p.o_custkey,
             CAST(COUNT(b.pos) AS BIGINT) = {BLOOM_K} AS pass
      FROM probe p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY 1, 2
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS n_keys,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
      CAST(COUNT(*) AS BIGINT) AS n_probed,
      CAST(SUM(CASE WHEN v.pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      CAST(SUM(CASE WHEN k.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_true,
      CAST(SUM(CASE WHEN v.pass AND k.c_custkey IS NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_false_pos
    FROM verdict v LEFT JOIN keys k ON k.c_custkey = v.o_custkey
    """,
)
def bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a {BLOOM_M_BITS}-bit, {BLOOM_K}-hash Bloom filter over
    one market segment's customer keys, probe every order through
    it, and report the exact pass / true-match / false-positive
    counts. The bitset is bounded and broadcast; the fact scan never
    shuffles before the verdict — the quantified version of the
    runtime-prefilter join pattern.
    """
    t = load_tables(spark, sf_dir)
    keys = (
        t["customer"]
        .where(F.col("c_mktsegment") == _BLOOM_SEGMENT)
        .select("c_custkey")
        .distinct()
    )

    def _pos(col: str, i) -> str:
        return (
            f"CAST(conv(substr(md5(concat(CAST({col} AS STRING), '#', "
            f"CAST({i} AS STRING))), 1, 15), 16, 10) AS BIGINT) "
            f"% {BLOOM_M_BITS}"
        )

    # Build side: distinct bit positions packed into 64-bit words
    # (<= M_BITS/64 rows), shipped as ONE broadcast map row. The probe
    # then tests membership per fact row map-side — no explode, no
    # per-order shuffle; the only exchange left is the final partial-
    # aggregated scalar rollup.
    hashes = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("i")
    bits = (
        keys.select("c_custkey", hashes)
        .select(F.expr(_pos("c_custkey", "i")).alias("pos"))
        .distinct()
    )
    words = bits.select(
        F.expr("pos div 64").alias("w"), F.expr("CAST(pos % 64 AS INT)").alias("b")
    ).groupBy("w").agg(
        F.expr(
            "aggregate(collect_set(b), CAST(0 AS BIGINT), "
            "(acc, x) -> acc | shiftleft(CAST(1 AS BIGINT), x))"
        ).alias("word")
    )
    bitmap = words.agg(
        F.expr("map_from_entries(collect_list(struct(w, word)))").alias("wm"),
        F.sum(F.bit_count("word")).cast("long").alias("n_bits_set"),
    )

    def _member(h: str) -> str:
        return (
            f"(shiftrightunsigned("
            f"coalesce(element_at(wm, ({h}) div 64), CAST(0 AS BIGINT)), "
            f"CAST(({h}) % 64 AS INT)) & 1) = 1"
        )

    h = [_pos("o_custkey", i) for i in range(BLOOM_K)]
    verdict = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .crossJoin(F.broadcast(bitmap))
        .select(
            "o_custkey",
            F.expr(" AND ".join(_member(hi) for hi in h)).alias("pass"),
        )
    )
    scalars = keys.agg(F.count("*").cast("long").alias("n_keys")).crossJoin(
        F.broadcast(bitmap.select("n_bits_set"))
    )
    truth = keys.withColumnRenamed("c_custkey", "o_custkey").withColumn(
        "is_true", F.lit(1)
    )
    return (
        verdict.join(F.broadcast(truth), "o_custkey", "left")
        .agg(
            F.count("*").cast("long").alias("n_probed"),
            F.sum(F.when(F.col("pass"), 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            F.sum(F.when(F.col("is_true").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_true"),
            F.sum(
                F.when(F.col("pass") & F.col("is_true").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(scalars))
        .select(
            "n_keys", "n_bits_set", "n_probed", "n_pass", "n_true", "n_false_pos"
        )
    )


# ---------------------------------------------------------------------------
# Exact winsorization: clamp each event's value to its type's exact
# nearest-rank [p01, p99] band, then aggregate the clamped values.
# Percentile rank ceil(p*n) in integers: (n*p_num + p_den - 1) div
# p_den. Same histogram recipe as exact_percentiles_orders /
# mad_outliers_events; the fact table is never globally sorted.
# ---------------------------------------------------------------------------
WINSOR_LO_NUM, WINSOR_LO_DEN = 1, 100  # p01
WINSOR_HI_NUM, WINSOR_HI_DEN = 99, 100  # p99


@register(
    "winsorized_event_stats",
    f"""
    WITH vals AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    hist AS (
      SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS c
      FROM vals GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    pct AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN cum >= (n * {WINSOR_LO_NUM} + {WINSOR_LO_DEN} - 1)
                                  // {WINSOR_LO_DEN} THEN cents END) AS lo,
             MIN(CASE WHEN cum >= (n * {WINSOR_HI_NUM} + {WINSOR_HI_DEN} - 1)
                                  // {WINSOR_HI_DEN} THEN cents END) AS hi
      FROM cum GROUP BY event_type
    )
    SELECT v.event_type, p.n,
           p.lo / 100.0 AS p01_value,
           p.hi / 100.0 AS p99_value,
           CAST(SUM(CASE WHEN v.cents < p.lo THEN 1
                         WHEN v.cents > p.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped,
           CAST(SUM(greatest(p.lo, least(p.hi, v.cents))) AS BIGINT) / 100.0
             AS winsorized_sum,
           ROUND(CAST(SUM(greatest(p.lo, least(p.hi, v.cents))) AS BIGINT)
                 * 1.0 / p.n / 100.0, 4) AS winsorized_mean
    FROM vals v JOIN pct p ON p.event_type = v.event_type
    GROUP BY v.event_type, p.n, p.lo, p.hi
    """,
)
def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event stats after exact p01/p99 winsorization —
    the two-pass robust-aggregation pattern: tiny per-group
    percentile scalars from a distinct-value histogram, broadcast
    back over one more scan of the facts."""
    e = load_tables(spark, sf_dir)["events"]
    vals = e.select("event_type", money_cents(F.col("value")).alias("cents"))
    hist = vals.groupBy("event_type", "cents").agg(
        F.count("*").cast("long").alias("c")
    )
    wcum = Window.partitionBy("event_type").orderBy("cents")
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    pct = cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(
                    f"(n * {WINSOR_LO_NUM} + {WINSOR_LO_DEN} - 1) "
                    f"div {WINSOR_LO_DEN}"
                ),
                F.col("cents"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cum")
                >= F.expr(
                    f"(n * {WINSOR_HI_NUM} + {WINSOR_HI_DEN} - 1) "
                    f"div {WINSOR_HI_DEN}"
                ),
                F.col("cents"),
            )
        ).alias("hi"),
    )
    clamped = vals.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "n",
        "lo",
        "hi",
        F.greatest("lo", F.least("hi", F.col("cents"))).alias("wcents"),
        ((F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")))
        .cast("long")
        .alias("clip"),
    )
    return clamped.groupBy("event_type", "n", "lo", "hi").agg(
        F.sum("clip").cast("long").alias("n_clamped"),
        (F.sum("wcents").cast("long") / 100.0).alias("winsorized_sum"),
        F.round(
            F.sum("wcents").cast("long") / F.col("n") / 100.0, 4
        ).alias("winsorized_mean"),
    ).select(
        "event_type",
        "n",
        (F.col("lo") / 100.0).alias("p01_value"),
        (F.col("hi") / 100.0).alias("p99_value"),
        "n_clamped",
        "winsorized_sum",
        "winsorized_mean",
    )


# ---------------------------------------------------------------------------
# EXACT audience overlap via packed bitmaps: the distinct user set of
# each event type becomes (word = user div 64, 64-bit OR of user%64
# bits) rows — the roaring/bitmap-index pattern. Pairwise
# intersection is then SUM(bit_count(wa & wb)) over an equi-join on
# word: the shuffle carries |types| x (max_user/64) packed rows
# REGARDLESS of event count, and the result is exact — the
# set-intersection complement to the approximate HLL union
# (hll_union_users).
# ---------------------------------------------------------------------------
@register(
    "audience_overlap_bitmap",
    """
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, za.n AS n_a, zb.n AS n_b, p.n_common,
           ROUND(p.n_common * 1.0 / (za.n + zb.n - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN sizes za ON za.event_type = p.type_a
    JOIN sizes zb ON zb.event_type = p.type_b
    """,
)
def audience_overlap_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise audience intersection/Jaccard between event
    types, computed on packed 64-bit user bitmaps instead of raw
    (type, user) rows."""
    e = load_tables(spark, sf_dir)["events"]
    words = (
        e.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.expr("user_id div 64").alias("w"),
            F.expr("CAST(user_id % 64 AS INT)").alias("b"),
        )
        .groupBy("event_type", "w")
        .agg(
            F.expr(
                "aggregate(collect_set(b), CAST(0 AS BIGINT), "
                "(acc, x) -> acc | shiftleft(CAST(1 AS BIGINT), x))"
            ).alias("word")
        )
    )
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n")
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "w", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "w", F.col("word").alias("wb")
    )
    pairs = (
        a.join(b, "w")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("long")
            .alias("n_common")
        )
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"),
                                     F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"),
                                     F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (delta-vs-corpus) exact near-dup: the production ingest
# mode — a new batch arrives and must be checked against the standing
# corpus WITHOUT re-joining the corpus against itself. Same prefix-
# filter completeness as simjoin_prefix_filter, but one-sided: the
# overlap bound o >= ceil(tau*|A|) holds for A = the delta document
# alone, so joining only the DELTA side's rarest-token prefixes
# against the corpus posting list misses nothing, and candidate
# volume scales with the delta, not the corpus. Delta membership is
# deterministic (doc_id % 5 == 0 stands in for "today's batch").
# ---------------------------------------------------------------------------
DELTA_MOD = 5


@register(
    "dedup_incremental_exact",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
      FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
             CAST(COUNT(*) AS BIGINT) AS ni
      FROM sh d JOIN sh c
        ON d.shingle = c.shingle
       AND d.doc_id % {DELTA_MOD} = 0
       AND c.doc_id % {DELTA_MOD} <> 0
      GROUP BY 1, 2
    )
    SELECT delta_id, corpus_id,
           ROUND(ni * 1.0 / (zd.n + zc.n - ni), 6) AS jaccard
    FROM inter
    JOIN sizes zd ON zd.doc_id = delta_id
    JOIN sizes zc ON zc.doc_id = corpus_id
    WHERE ni * {SIMJOIN_TAU_DEN} >= {SIMJOIN_TAU_NUM} * (zd.n + zc.n - ni)
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 1/2 matches of a delta batch against the
    standing corpus, with candidates generated from the DELTA side's
    prefixes only — candidate volume tracks the batch size, never
    the corpus size."""
    from erkg_tutorials_spark.dedup.minhash import shingles
    from erkg_tutorials_spark.plans.memo import memoized_sized

    t = load_tables(spark, sf_dir)
    sh = memoized_sized(
        spark, sf_dir, "containment_doc_shingles",
        lambda: shingles(t["documents"], k=3),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    is_delta = F.col("doc_id") % DELTA_MOD == 0

    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    delta_prefix = (
        sh.where(is_delta)
        .join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(
            F.col("pos")
            <= F.col("n")
            - F.expr(
                f"(n * {SIMJOIN_TAU_NUM} + {SIMJOIN_TAU_DEN} - 1) "
                f"div {SIMJOIN_TAU_DEN}"
            )
            + 1
        )
        .select(F.col("doc_id").alias("delta_id"), F.col("n").alias("nd"), "shingle")
    )
    corpus = sh.where(~is_delta).join(sizes, "doc_id").select(
        F.col("doc_id").alias("corpus_id"), F.col("n").alias("nc"), "shingle"
    )
    cand = (
        delta_prefix.join(corpus, "shingle")
        .select("delta_id", "corpus_id", "nd", "nc")
        .distinct()
    )
    sd = sh.select(F.col("doc_id").alias("delta_id"), "shingle")
    sc = sh.select(F.col("doc_id").alias("corpus_id"), "shingle")
    return (
        cand.join(sd, "delta_id")
        .join(sc, ["corpus_id", "shingle"])
        .groupBy("delta_id", "corpus_id", "nd", "nc")
        .agg(F.count("*").cast("long").alias("ni"))
        .where(
            F.col("ni") * SIMJOIN_TAU_DEN
            >= SIMJOIN_TAU_NUM * (F.col("nd") + F.col("nc") - F.col("ni"))
        )
        .select(
            "delta_id",
            "corpus_id",
            F.round(
                F.col("ni") / (F.col("nd") + F.col("nc") - F.col("ni")), 6
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Join-skew diagnostic: per-key weight distribution of the
# orders-lineitem join key, reported as the exact top-5 heaviest
# keys plus distribution-shape scalars (max/avg imbalance factor,
# p99 weight). At 100 TB this is the report that tells you WHETHER
# to salt — computed from one partial-aggregated groupBy over the
# fact table and a bounded top-k, never a sort of all keys.
# ---------------------------------------------------------------------------
SKEW_TOPK = 5


@register(
    "skew_report_lineitem",
    f"""
    WITH w AS (
      SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS weight
      FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(weight) AS BIGINT) AS n_rows,
             CAST(MAX(weight) AS BIGINT) AS max_w
      FROM w
    ),
    hist AS (
      SELECT weight, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY 1
    ),
    cum AS (
      SELECT weight, c, SUM(c) OVER (ORDER BY weight) AS cum,
             SUM(c) OVER () AS n
      FROM hist
    ),
    p99 AS (
      SELECT CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN weight END)
                  AS BIGINT) AS p99_w
      FROM cum
    ),
    topk AS (
      SELECT key, weight,
             ROW_NUMBER() OVER (ORDER BY weight DESC, key) AS rk
      FROM w QUALIFY rk <= {SKEW_TOPK}
    )
    SELECT t.rk, t.key AS heavy_key, t.weight,
           s.n_keys, s.n_rows,
           ROUND(s.max_w * 1.0 * s.n_keys / s.n_rows, 6) AS imbalance_factor,
           p.p99_w
    FROM topk t CROSS JOIN stats s CROSS JOIN p99 p
    """,
)
def skew_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-key skew report for lineitem.l_orderkey: top-5
    heaviest keys + imbalance factor (max weight / mean weight) +
    nearest-rank p99 weight, from one groupBy, a weight histogram,
    and a TakeOrderedAndProject top-k — all keys are never sorted."""
    li = load_tables(spark, sf_dir)["lineitem"]
    w = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count("*").cast("long").alias("weight")
    )
    stats = w.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("weight").cast("long").alias("n_rows"),
        F.max("weight").cast("long").alias("max_w"),
    )
    hist = w.groupBy("weight").agg(F.count("*").cast("long").alias("c"))
    wcum = Window.orderBy("weight")  # distinct-weight domain: tiny
    cum = hist.select(
        "weight", F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    p99 = cum.agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n * 99 + 99) div 100"), F.col("weight")
            )
        )
        .cast("long")
        .alias("p99_w")
    )
    topk = (
        w.orderBy(F.desc("weight"), "key")
        .limit(SKEW_TOPK)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("weight"), "key"))
        )
    )
    return (
        topk.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(p99))
        .select(
            "rk",
            F.col("key").alias("heavy_key"),
            "weight",
            "n_keys",
            "n_rows",
            F.round(
                F.col("max_w") * F.col("n_keys") / F.col("n_rows"), 6
            ).alias("imbalance_factor"),
            "p99_w",
        )
    )
