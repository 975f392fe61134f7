"""Temporal / time-series query surface over the events table.

Operators a time-series engine needs beyond plain tumbling windows
(which live in plans/eventsq.py): as-of join, bounded range (interval)
join, multi-resolution hypertable rollup, funnel sequencing, and
running cumulative windows. Each has a DuckDB oracle twin.

Timestamp convention matches eventsq.py: the events parquet carries
TIMESTAMP(NANOS); both engines reduce to exact whole epoch seconds
(`ts_sec` integer division on the Spark side, FLOOR(epoch(ts)) on the
DuckDB side) before any comparison.

Scale notes (100 TB):
- The as-of join is the union+ordered-window formulation — one shuffle
  on (user_id), no inequality join, no per-row probe. State per
  partition is a single running "last purchase" value.
- The range join is bucketed: candidates come from an equi-join on
  (user_id, time_bucket) with the left side exploded into the two
  buckets any in-window partner can occupy, then an exact residual
  filter. Pair fan-out is proportional to true matches, never
  O(left x right) per user.
- The hypertable rollup is cascaded (hour -> day -> week), so each
  coarser resolution aggregates the previous rollup, not the raw
  table — the continuous-aggregate pattern: raw data is read once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import money_cents
from erkg_tutorials_spark.plans.registry import register

ATTRIBUTION_WINDOW_SECONDS = 3600

# DuckDB epoch-second extraction identical to catalog.read_events' ts_sec
_SEC = "CAST(FLOOR(epoch(ts)) AS BIGINT)"


# ---------------------------------------------------------------------------
# As-of join: each non-purchase event picks the most recent purchase
# (<= its time) by the same user. The classic market-data join
# (trade -> latest quote), here event -> latest purchase.
#
# Spark plan: tag purchases (kind=0) and query events (kind=1), union,
# and run last(..., ignorenulls=True) over a per-user window ordered by
# (sec, kind, event_id). A same-second purchase sorts before the query
# row, giving <= semantics; event_id breaks purchase ties
# deterministically (latest id wins). One shuffle, linear state.
#
# Oracle: left inequality join + arg_max over the composite order key
# sec*10^7+event_id (event ids are < 10^7 at oracle scale, see
# TESTDATA.md; the Spark plan has no such bound).
# ---------------------------------------------------------------------------
@register(
    "asof_join_last_purchase",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, {_SEC} AS sec, value FROM events
    ),
    q AS (SELECT event_id, user_id, event_type, sec FROM e WHERE event_type <> 'purchase'),
    p AS (SELECT user_id, sec, event_id, value FROM e WHERE event_type = 'purchase')
    SELECT q.event_id, q.user_id, q.event_type, q.sec,
           arg_max(p.sec,   p.sec * 10000000 + p.event_id) AS last_purchase_sec,
           arg_max(p.value, p.sec * 10000000 + p.event_id) AS last_purchase_value,
           q.sec - arg_max(p.sec, p.sec * 10000000 + p.event_id) AS gap_sec
    FROM q LEFT JOIN p ON q.user_id = p.user_id AND p.sec <= q.sec
    GROUP BY q.event_id, q.user_id, q.event_type, q.sec
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's latest purchase at or before it."""
    e = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", F.col("ts_sec").alias("sec"), "value"
    )
    queries = e.where(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "event_type", "sec",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("p_sec"),
        F.lit(None).cast("double").alias("p_value"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", "sec",
        F.lit(0).alias("kind"),
        F.col("sec").alias("p_sec"),
        F.col("value").alias("p_value"),
    )
    merged = queries.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = merged.select(
        "event_id", "user_id", "event_type", "sec", "kind",
        F.last("p_sec", ignorenulls=True).over(w).alias("last_purchase_sec"),
        F.last("p_value", ignorenulls=True).over(w).alias("last_purchase_value"),
    )
    return out.where(F.col("kind") == 1).select(
        "event_id", "user_id", "event_type", "sec",
        "last_purchase_sec", "last_purchase_value",
        (F.col("sec") - F.col("last_purchase_sec")).alias("gap_sec"),
    )


# ---------------------------------------------------------------------------
# Bounded range (interval) join: attribution pairs — every (view,
# purchase) by the same user with view.sec < purchase.sec <=
# view.sec + 1h.
#
# Spark plan: equi-join on (user_id, hour_bucket) after exploding each
# view into the two buckets a partner can land in (its own and the
# next), then the exact residual range filter. A pair is produced at
# most once because the join bucket must equal the purchase's own
# bucket. This is the standard scale-out for range joins — the
# inequality never reaches the join operator.
# ---------------------------------------------------------------------------
@register(
    "range_join_view_purchase",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, {_SEC} AS sec FROM events
    ),
    v AS (SELECT user_id, event_id, sec FROM e WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, sec FROM e WHERE event_type = 'purchase')
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           v.sec AS view_sec,
           p.sec AS purchase_sec,
           p.sec - v.sec AS delay_sec
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p.sec > v.sec
     AND p.sec <= v.sec + {ATTRIBUTION_WINDOW_SECONDS}
    """,
)
def range_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: view events matched to purchases within a bounded following interval."""
    w_len = ATTRIBUTION_WINDOW_SECONDS
    e = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", F.col("ts_sec").alias("sec")
    )
    views = (
        e.where(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_event_id"), F.col("sec").alias("view_sec"))
        .withColumn(
            "jb",
            F.explode(
                F.array(
                    F.expr(f"view_sec div {w_len}"),
                    F.expr(f"view_sec div {w_len} + 1"),
                )
            ),
        )
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("sec").alias("purchase_sec"),
        )
        .withColumn("jb", F.expr(f"purchase_sec div {w_len}"))
    )
    return (
        views.join(purchases, ["user_id", "jb"])
        .where(
            (F.col("purchase_sec") > F.col("view_sec"))
            & (F.col("purchase_sec") <= F.col("view_sec") + w_len)
        )
        .select(
            "user_id", "view_event_id", "purchase_event_id",
            "view_sec", "purchase_sec",
            (F.col("purchase_sec") - F.col("view_sec")).alias("delay_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Hypertable multi-resolution rollup: hour/day/week aggregates of the
# events stream in one result, CASCADED — day aggregates the hourly
# rollup and week aggregates the daily one, so the raw table is
# scanned exactly once (TimescaleDB continuous-aggregate shape).
# Value sums ride as exact integer cents through every tier. The week
# bucket is a plain 7-day bin anchored at the epoch.
#
# Oracle computes each resolution directly from raw rows, so equality
# also proves the cascade introduces no drift.
# ---------------------------------------------------------------------------
@register(
    "hypertable_rollup",
    f"""
    WITH e AS (
      SELECT {_SEC} AS sec, CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events
    )
    SELECT 'hour' AS resolution, (sec // 3600) * 3600 AS bucket_start,
           COUNT(*) AS n_events, SUM(cents) / 100.0 AS total_value
    FROM e GROUP BY 2
    UNION ALL
    SELECT 'day', (sec // 86400) * 86400, COUNT(*), SUM(cents) / 100.0
    FROM e GROUP BY 2
    UNION ALL
    SELECT 'week', (sec // 604800) * 604800, COUNT(*), SUM(cents) / 100.0
    FROM e GROUP BY 2
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour and day aggregates in one pass."""
    e = load_tables(spark, sf_dir)["events"].select(
        F.col("ts_sec").alias("sec"), money_cents(F.col("value")).alias("cents")
    )
    hour = e.groupBy(F.expr("(sec div 3600) * 3600").alias("bucket_start")).agg(
        F.count("*").alias("n_events"), F.sum("cents").alias("cents")
    )
    day = hour.groupBy(F.expr("(bucket_start div 86400) * 86400").alias("bucket_start")).agg(
        F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents")
    )
    week = day.groupBy(F.expr("(bucket_start div 604800) * 604800").alias("bucket_start")).agg(
        F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents")
    )

    def tier(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            "bucket_start",
            "n_events",
            (F.col("cents") / 100.0).alias("total_value"),
        )

    return tier(hour, "hour").unionByName(tier(day, "day")).unionByName(tier(week, "week"))


# ---------------------------------------------------------------------------
# Funnel sequencing: signup -> first view after signup -> first
# purchase after that view, per user. Staged conditional-min
# aggregations joined on user_id (three co-partitioned shuffles, no
# per-user event sorting, no row explosion).
# ---------------------------------------------------------------------------
@register(
    "funnel_signup_view_purchase",
    f"""
    WITH e AS (
      SELECT user_id, event_type, {_SEC} AS sec FROM events
    ),
    s AS (
      SELECT user_id, MIN(sec) AS signup_sec FROM e WHERE event_type = 'signup' GROUP BY 1
    ),
    v AS (
      SELECT e.user_id, MIN(e.sec) AS first_view_sec
      FROM e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'view' AND e.sec >= s.signup_sec
      GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.sec) AS first_purchase_sec
      FROM e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.sec >= v.first_view_sec
      GROUP BY 1
    )
    SELECT s.user_id, s.signup_sec, v.first_view_sec, p.first_purchase_sec,
           p.first_purchase_sec IS NOT NULL AS completed
    FROM s LEFT JOIN v ON s.user_id = v.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup -> view -> purchase conversion counts per step."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.col("ts_sec").alias("sec")
    )
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("sec").alias("signup_sec"))
    )
    v = (
        e.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("sec") >= F.col("signup_sec"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("first_view_sec"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("sec") >= F.col("first_view_sec"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("first_purchase_sec"))
    )
    return (
        s.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "signup_sec", "first_view_sec", "first_purchase_sec",
            F.col("first_purchase_sec").isNotNull().alias("completed"),
        )
    )


# ---------------------------------------------------------------------------
# Running cumulative window: per-customer running order revenue in
# order-date order. The running sum accumulates exact integer cents
# (associative), descaled per row — prefix-sum order is deterministic
# so the double division is reproducible cross-engine.
# ---------------------------------------------------------------------------
@register(
    "w5_running_total",
    """
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING) / 100.0 AS running_total
    FROM orders
    """,
)
def w5_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total of order value per customer via an unbounded-preceding window."""
    o = load_tables(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        (F.sum(money_cents(F.col("o_totalprice"))).over(w) / 100.0).alias("running_total"),
    )


# ---------------------------------------------------------------------------
# First-touch marketing attribution: each purchase is credited to the
# EARLIEST non-purchase event by the same user inside the preceding
# window (strictly before the purchase), ties broken by event_id;
# purchases with no touch in window report as 'none'. Same bucketed
# range join as range_join_view_purchase (candidates from an equi-join
# on (user, bucket) with the touch side exploded into the two buckets
# an in-window purchase can occupy), then one row_number per purchase
# over its bounded candidate set — never a per-user cross product and
# no global sort. The credited value rides as exact integer cents.
# ---------------------------------------------------------------------------
FIRST_TOUCH_WINDOW_SECONDS = 7 * 86400


@register(
    "attribution_first_touch",
    f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, value, {_SEC} AS sec FROM events
    ),
    p AS (
      SELECT event_id, user_id, value, sec FROM e WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id, user_id, event_type, sec FROM e
      WHERE event_type <> 'purchase'
    ),
    first_touch AS (
      SELECT p.event_id AS purchase_id, p.value, t.event_type,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY t.sec, t.event_id) AS rn
      FROM p JOIN t
        ON t.user_id = p.user_id
       AND t.sec < p.sec
       AND t.sec >= p.sec - {FIRST_TOUCH_WINDOW_SECONDS}
    ),
    credited AS (
      SELECT p.event_id, p.value, COALESCE(ft.event_type, 'none') AS touch
      FROM p LEFT JOIN first_touch ft
        ON ft.purchase_id = p.event_id AND ft.rn = 1
    )
    SELECT touch AS first_touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0
             AS attributed_value
    FROM credited GROUP BY touch
    """,
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases credited to the user's earliest non-purchase event
    within the preceding 7 days (first-touch model), with exact
    attributed value per touch type and a 'none' bucket for
    unattributed purchases."""
    w_len = FIRST_TOUCH_WINDOW_SECONDS
    e = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", "value",
        F.col("ts_sec").alias("sec"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        money_cents(F.col("value")).alias("cents"),
        F.col("sec").alias("p_sec"),
        F.expr(f"sec div {w_len}").alias("jb"),
    )
    touches = (
        e.where(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("touch_type"),
            F.col("sec").alias("t_sec"),
        )
        .withColumn(
            "jb",
            F.explode(
                F.array(
                    F.expr(f"t_sec div {w_len}"),
                    F.expr(f"t_sec div {w_len} + 1"),
                )
            ),
        )
    )
    cand = purchases.join(touches, ["user_id", "jb"]).where(
        (F.col("t_sec") < F.col("p_sec"))
        & (F.col("t_sec") >= F.col("p_sec") - w_len)
    )
    wn = Window.partitionBy("purchase_id").orderBy("t_sec", "touch_id")
    first = (
        cand.withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") == 1)
        .select("purchase_id", "touch_type")
    )
    credited = purchases.join(first, "purchase_id", "left").select(
        F.coalesce("touch_type", F.lit("none")).alias("first_touch_type"),
        "cents",
    )
    return credited.groupBy("first_touch_type").agg(
        F.count("*").cast("long").alias("n_purchases"),
        (F.sum("cents") / 100.0).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# Gap fill + interpolation: regularize each event type's daily value
# series onto its full [min_day, max_day] calendar grid (sequence +
# explode — arithmetic row generation, no join against a calendar
# table), then fill the holes two ways:
#   * forward fill (last known daily total carried forward), and
#   * linear interpolation between the surrounding known days,
#     emitted as an EXACT RATIONAL — integer numerator and
#     denominator — so cross-engine equality is bit-exact with no
#     float-rounding convention in sight (the same reason the money
#     pattern sums integer cents):
#       num = prev*(d_next - d_prev) + (next - prev)*(d - d_prev)
#       den = d_next - d_prev
# Grid bounds come from observed days, so every gap row has both a
# previous and a next known value by construction. One shuffle on
# event_type; the fills are two ignore-nulls windows over the grid.
# At 100 TB the grid is O(types x days) — tiny next to the raw events
# — and the windows partition by type, so no global sort appears.
# ---------------------------------------------------------------------------
@register(
    "events_gap_fill",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY event_type
    ),
    grid AS (
      SELECT b.event_type, gs.day
      FROM bounds b, UNNEST(generate_series(b.d0, b.d1)) AS gs(day)
    ),
    filled AS (
      SELECT g.event_type, g.day, d.cents,
             COALESCE(d.n_events, 0) AS n_events
      FROM grid g LEFT JOIN daily d
        ON g.event_type = d.event_type AND g.day = d.day
    ),
    spanned AS (
      SELECT event_type, day, n_events, cents,
             LAST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_cents,
             LAST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
             FIRST_VALUE(cents IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_cents,
             FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
      FROM filled
    )
    SELECT event_type,
           CAST(day AS BIGINT) AS day,
           n_events,
           CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap,
           CAST(prev_cents AS BIGINT) AS ffill_cents,
           CAST(CASE WHEN cents IS NOT NULL THEN cents
                ELSE prev_cents * (next_day - prev_day)
                     + (next_cents - prev_cents) * (day - prev_day)
                END AS BIGINT) AS interp_num,
           CAST(CASE WHEN cents IS NOT NULL THEN 1
                ELSE next_day - prev_day END AS BIGINT) AS interp_den
    FROM spanned
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap fill per event type: full daily grid with forward-filled cents and exact-rational linear interpolation (num/den BIGINTs)."""
    e = load_tables(spark, sf_dir)["events"].select(
        "event_type",
        F.expr("ts_sec div 86400").alias("day"),
        money_cents(F.col("value")).alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(
        F.sum("cents").alias("cents"), F.count("*").alias("n_events")
    )
    grid = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    filled = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        "cents",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    spanned = filled.select(
        "event_type",
        "day",
        "n_events",
        "cents",
        F.last("cents", ignorenulls=True).over(back).alias("prev_cents"),
        F.last(known_day, ignorenulls=True).over(back).alias("prev_day"),
        F.first("cents", ignorenulls=True).over(fwd).alias("next_cents"),
        F.first(known_day, ignorenulls=True).over(fwd).alias("next_day"),
    )
    span = F.col("next_day") - F.col("prev_day")
    return spanned.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        "n_events",
        F.when(F.col("cents").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
        F.col("prev_cents").cast("long").alias("ffill_cents"),
        F.when(F.col("cents").isNotNull(), F.col("cents"))
        .otherwise(
            F.col("prev_cents") * span
            + (F.col("next_cents") - F.col("prev_cents"))
            * (F.col("day") - F.col("prev_day"))
        )
        .cast("long")
        .alias("interp_num"),
        F.when(F.col("cents").isNotNull(), 1)
        .otherwise(span)
        .cast("long")
        .alias("interp_den"),
    )
