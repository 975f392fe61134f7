"""Event-stream query surface (batch form of the streaming tier).

Timestamps in the events table carry nanosecond precision; Spark reads
parquet ns as µs-truncated while DuckDB keeps ns. Every query therefore
floors to whole epoch seconds (identical in both engines) before any
comparison or output — raw timestamps never leave a query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import exact_money_sum, money_cents
from erkg_tutorials_spark.plans.registry import register

SESSION_GAP_SECONDS = 1800


@register(
    "events_hourly_rollup",
    """
    SELECT event_type,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the
    Structured Streaming windowed count in streaming/events.py)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            "event_type",
            (F.expr("ts_sec div 3600") * 3600).alias("hour_epoch"),
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_money_sum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "events_sessionize",
    f"""
    WITH e AS (
      SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
    ),
    lagged AS (
      SELECT *, LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e
    ),
    flags AS (
      SELECT *, CASE WHEN prev IS NULL OR sec - prev > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END AS new_s
      FROM lagged
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flags
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(sec) AS start_sec, MAX(sec) AS end_sec
    FROM sess GROUP BY 1, 2
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap): lag → flag →
    running-sum session ids → per-session rollup. The canonical
    stateful-stream operator expressed as windows (batch form)."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select("user_id", "event_id", F.col("ts_sec").alias("sec"))
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    lagged = e.withColumn("prev", F.lag("sec").over(order))
    flags = lagged.withColumn(
        "new_s",
        F.when(
            F.col("prev").isNull() | (F.col("sec") - F.col("prev") > SESSION_GAP_SECONDS), 1
        ).otherwise(0),
    )
    sess = flags.withColumn(
        "session_id", F.sum("new_s").over(order.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.min("sec").alias("start_sec"),
        F.max("sec").alias("end_sec"),
    )


# ---------------------------------------------------------------------------
# A3 — distinct-pair aggregation (reference set((text, kb_id)) per
# phrase, analysis.py:19-21)
# ---------------------------------------------------------------------------
@register(
    "a3_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a3_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct mention sets: exact distinct user ids per event type."""
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Sliding window rollup (30-min windows, 15-min slide): each event
# lands in exactly two windows — the batch twin of Structured
# Streaming's window(ts, '30 minutes', '15 minutes')
# ---------------------------------------------------------------------------
@register(
    "events_sliding_window",
    """
    WITH e AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
    ),
    expanded AS (
      SELECT event_type, sec, unnest([
        (sec // 900) * 900,
        (sec // 900) * 900 - 900
      ]) AS w_start
      FROM e
    )
    SELECT event_type, w_start, CAST(w_start + 1800 AS BIGINT) AS w_end, COUNT(*) AS n_events
    FROM expanded
    WHERE sec >= w_start AND sec < w_start + 1800
    GROUP BY 1, 2, 3
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding one-hour windows with 15-minute hop: event counts per overlapping window."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select("event_type", F.col("ts_sec").alias("sec"))
    expanded = e.select(
        "event_type",
        "sec",
        F.explode(
            F.array(
                F.expr("(sec div 900) * 900"),
                F.expr("(sec div 900) * 900 - 900"),
            )
        ).alias("w_start"),
    ).where((F.col("sec") >= F.col("w_start")) & (F.col("sec") < F.col("w_start") + 1800))
    return expanded.groupBy(
        "event_type", "w_start", (F.col("w_start") + 1800).alias("w_end")
    ).agg(F.count("*").alias("n_events"))


# ---------------------------------------------------------------------------
# Exact per-group quantiles: Spark's `percentile` and DuckDB's
# `quantile_cont` implement the same (n-1)*p linear interpolation over
# the sorted group — measured bit-equal at 6dp on this data. (The
# *approximate* tier — percentile_approx / t-digest — is deliberately
# not oracle-paired: its buckets are engine-specific. Exact percentile
# is a full sort per group; at 100 TB you reach for the sketch and
# accept approximation, here the contract is exactness.)
# ---------------------------------------------------------------------------
@register(
    "events_value_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type value quantiles (p50/p90/p99) via percentile on integer cents."""
    e = load_tables(spark, sf_dir)["events"]
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# RANGE-frame moving window: per event type, daily revenue plus the
# trailing-7-day moving sum and average. RANGE BETWEEN 6 PRECEDING
# over the integer day key counts *days*, not rows — days with no
# events simply don't contribute, and both engines define the frame
# identically. Sums ride as exact cents; the average divides the exact
# sum by the exact in-frame day count (one double division).
# ---------------------------------------------------------------------------
@register(
    "events_moving_7d",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day,
           cents / 100.0 AS day_value,
           CAST(SUM(cents) OVER w AS BIGINT) / 100.0 AS movsum_7d,
           CAST(SUM(cents) OVER w AS BIGINT) / 100.0
             / CAST(COUNT(*) OVER w AS BIGINT) AS movavg_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily event counts via a range-bounded window."""
    e = load_tables(spark, sf_dir)["events"].select(
        "event_type",
        F.expr("ts_sec div 86400").alias("day"),
        money_cents(F.col("value")).alias("cents"),
    )
    daily = e.groupBy("event_type", "day").agg(F.sum("cents").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    movsum = F.sum("cents").over(w).cast("bigint")
    return daily.select(
        "event_type",
        "day",
        (F.col("cents") / 100.0).alias("day_value"),
        (movsum / 100.0).alias("movsum_7d"),
        ((movsum / 100.0) / F.count("*").over(w).cast("bigint")).alias("movavg_7d"),
    )


# ---------------------------------------------------------------------------
# SCD-2 interval build: each user's event stream becomes a history of
# (state, valid_from, valid_to) rows — state is the event type, the
# interval closes when the next event arrives (lead window), the last
# interval stays open (NULL). The standard change-stream → slowly-
# changing-dimension transformation, one window over (user, time).
# Tie-break inside the same second: event_id (monotone in the feed).
# ---------------------------------------------------------------------------
@register(
    "scd2_user_state_history",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events
    )
    SELECT user_id, event_type AS state, sec AS valid_from,
           lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
             AS valid_to,
           CAST((lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id))
                IS NULL AS BOOLEAN) AS is_current
    FROM e
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history: each user's state intervals with valid_from/valid_to bounds."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "event_type", F.col("ts_sec").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    nxt = F.lead("sec").over(w)
    return e.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("sec").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sample: ~10% of each event type, membership
# decided by a content hash (md5 of the event id), never an RNG — the
# same rows are sampled on every engine, every run, at any
# parallelism. This is the reproducible-split pattern (same family as
# split_assign) applied to per-stratum rate sampling.
# ---------------------------------------------------------------------------
@register(
    "sample_stratified_events",
    """
    SELECT event_id, event_type,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
    FROM events
    WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT)
          % 100 < 10
    """,
)
def sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample per event type using md5-derived uniform coins."""
    e = load_tables(spark, sf_dir)["events"]
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 100
    )
    return e.where(bucket < 10).select(
        "event_id", "event_type", money_cents(F.col("value")).alias("value_cents")
    )


# ---------------------------------------------------------------------------
# Z-score anomaly detection: flag events whose value deviates > 3σ
# from their event type's mean. The entire threshold test is EXACT
# integer/decimal arithmetic — cross-multiplied so no square root or
# division ever runs:
#   |x - μ| > 3σ   ⇔   (n·x - S)² · (n-1) > 9 · n · (n·Q - S²)
# with S = Σ cents, Q = Σ cents² (both exact), carried in
# DECIMAL(38,0) (the squared terms overflow BIGINT at sf ≥ 0.1).
# Sample std (n-1); reported z is informational (one sqrt, 4dp).
# ---------------------------------------------------------------------------
@register(
    "events_anomaly_zscore",
    """
    WITH e AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(c) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS q
      FROM e GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           e.c / 100.0 AS value,
           ROUND((e.c * n - s) / sqrt(n * (n * q - s * s) / (n - 1)), 4) AS z,
           CAST((e.c * n - s) * (e.c * n - s) * (n - 1) > 9 * n * (n * q - s * s)
                AS BOOLEAN) AS is_anomaly
    FROM e JOIN stats ON e.event_type = stats.event_type
    WHERE (e.c * n - s) * (e.c * n - s) * (n - 1) > 9 * n * (n * q - s * s)
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count anomalies: z-score vs each type's mean/stddev, flagged beyond 3 sigma."""
    e = load_tables(spark, sf_dir)["events"].select(
        "event_id", "event_type", money_cents(F.col("value")).alias("c")
    )
    stats = e.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    j = e.join(F.broadcast(stats), "event_type")
    dev = F.col("c") * F.col("n") - F.col("s")          # n·x − S, exact
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")  # n·(n·Q − S²)/... numerator
    lhs = dev * dev * (F.col("n") - 1)
    rhs = F.lit(9) * F.col("n") * var_num
    return (
        j.where(lhs > rhs)
        .select(
            "event_id",
            "event_type",
            (F.col("c") / 100.0).alias("value"),
            F.round(
                dev / F.sqrt(F.col("n") * var_num / (F.col("n") - 1)), 4
            ).alias("z"),
            (lhs > rhs).alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental rollup: merge of partial aggregates == full recompute.
# The 100 TB pipeline pattern — yesterday's materialized partials plus
# today's delta-batch partials are combined WITHOUT touching the
# historical raw rows. Count and exact-integer cents are mergeable
# states (associative + commutative), so the merged result is
# bit-identical to the full GROUP BY the oracle runs. The 80/20 split
# below stands in for the batch boundary and is derived from the
# unique event_id, so it is deterministic under retries.
# ---------------------------------------------------------------------------
@register(
    "incremental_rollup",
    """
    SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental hourly rollup: only hours touched by the late batch are recomputed."""
    ev = load_tables(spark, sf_dir)["events"].select(
        F.expr("ts_sec div 86400").alias("day"),
        "event_type",
        (F.pmod(F.col("event_id"), F.lit(10)) < 8).alias("_base"),
        money_cents(F.col("value")).alias("cents"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("_n"), F.sum("cents").alias("_c")
        )

    base = partials(ev.where(F.col("_base")))
    delta = partials(ev.where(~F.col("_base")))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("_n").alias("n_events"),
            (F.sum("_c") / 100.0).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Bitemporal point-in-time lookup over the SCD-2 history: "what was
# every user's state at time T" for a probe set of times (quartiles of
# the stream's time range — derived from the data, so both engines
# compute identical probes). The probe table is 3 rows → broadcast;
# each SCD-2 interval row answers `valid_from <= T < valid_to` as a
# map-side filter, so the history is scanned once regardless of probe
# count. This is the time-travel read every SCD-2 warehouse dimension
# exists to serve.
# ---------------------------------------------------------------------------
@register(
    "scd2_point_in_time",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    hist AS (
      SELECT user_id, event_type AS state, sec AS valid_from,
             lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
               AS valid_to
      FROM e
    ),
    rng AS (SELECT MIN(sec) AS lo, MAX(sec) AS hi FROM e),
    probes AS (
      SELECT CAST(q.q AS BIGINT) AS qn,
             lo + (hi - lo) * CAST(q.q AS BIGINT) // 4 AS t
      FROM rng CROSS JOIN unnest(generate_series(1, 3)) AS q(q)
    )
    SELECT p.qn AS quartile, p.t AS as_of_sec, h.user_id, h.state
    FROM hist h JOIN probes p
      ON h.valid_from <= p.t AND (h.valid_to IS NULL OR p.t < h.valid_to)
    """,
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup: the state row effective at a fixed probe timestamp."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "event_type", F.col("ts_sec").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    hist = e.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("sec").alias("valid_from"),
        F.lead("sec").over(w).alias("valid_to"),
    )
    rng = e.agg(F.min("sec").alias("lo"), F.max("sec").alias("hi"))
    probes = (
        rng.select(
            F.explode(F.sequence(F.lit(1), F.lit(3))).alias("qn"), "lo", "hi"
        )
        .select(
            F.col("qn").cast("long").alias("quartile"),
            (
                F.col("lo")
                + F.expr("(hi - lo) * CAST(qn AS BIGINT) div 4")
            ).alias("as_of_sec"),
        )
    )
    return (
        hist.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("as_of_sec"))
            & (
                F.col("valid_to").isNull()
                | (F.col("as_of_sec") < F.col("valid_to"))
            ),
        )
        .select("quartile", "as_of_sec", "user_id", "state")
    )


# ---------------------------------------------------------------------------
# Calendar heatmap: day-of-week × hour-of-day activity matrix — the
# standard ops-dashboard rollup. Calendar semantics are pinned
# explicitly (dow 0 = Sunday on both engines: DuckDB's extract(dow)
# convention; Spark's dayofweek() is 1-based Sunday so the query
# subtracts 1) and all math is integer counts + exact cents. One
# groupBy over the stream; 168 output cells at any scale.
# ---------------------------------------------------------------------------
@register(
    "events_calendar_heatmap",
    """
    SELECT CAST(extract(dow FROM ts) AS BIGINT) AS dow,
           CAST(extract(hour FROM ts) AS BIGINT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_calendar_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar heatmap cells: event counts per (day-of-week, hour-of-day) bucket."""
    e = load_tables(spark, sf_dir)["events"]
    ts = F.timestamp_micros(F.expr("ts_ns div 1000"))
    return (
        e.select(
            (F.dayofweek(ts) - 1).cast("long").alias("dow"),
            F.hour(ts).cast("long").alias("hod"),
            "user_id",
            money_cents(F.col("value")).alias("cents"),
        )
        .groupBy("dow", "hod")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# New vs returning users per day + cumulative audience. "Running
# COUNT(DISTINCT)" is not associative, but first-touch attribution
# makes it one pass: tag each user's first event (min event ordinal
# per user — one window), then daily news are a plain count and the
# cumulative audience is a running sum of news. Two exchanges total
# (user window, day rollup) at any scale; no O(n²) re-scan per day.
# ---------------------------------------------------------------------------
@register(
    "events_new_vs_returning",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    tagged AS (
      SELECT day, user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day, event_id) = 1
               AS is_first
      FROM e
    ),
    daily AS (
      SELECT day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
      FROM tagged GROUP BY day
    )
    SELECT day, n_events, n_new,
           n_active - n_new AS n_returning,
           CAST(SUM(n_new) OVER (ORDER BY day) AS BIGINT) AS cumulative_users
    FROM daily
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split from each user's first-seen date."""
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        F.expr("ts_sec div 86400").alias("day"),
    )
    w = Window.partitionBy("user_id").orderBy("day", "event_id")
    tagged = e.select(
        "day", "user_id", (F.row_number().over(w) == 1).alias("is_first")
    )
    daily = tagged.groupBy("day").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("is_first").cast("long")).alias("n_new"),
        F.countDistinct("user_id").alias("n_active"),
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "n_events",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(wc).alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Session journey paths: the most common opening event-type sequences
# (first 3 events of each 30-min session) — the product-analytics
# "user flow" report, composed from the sessionize CTE + per-session
# sequence extraction. Distinct from event_transition_matrix (which
# is memoryless): a path is an ordered prefix, not a 1-step hop.
# ---------------------------------------------------------------------------
@register(
    "session_top_paths",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    lagged AS (
      SELECT *, LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e
    ),
    flags AS (
      SELECT *, CASE WHEN prev IS NULL OR sec - prev > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END AS new_s
      FROM lagged
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flags
    ),
    ranked AS (
      SELECT user_id, session_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY sec, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, ' > ' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3
      GROUP BY 1, 2
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening 3-event path per session, with session frequency.

    Sessionization (lag → flag → running sum) and path extraction
    share one user-partitioned sort — a second ROW_NUMBER over the
    same (user, time) ordering adds no shuffle. The path table is
    bounded by |types|³ regardless of event volume.
    """
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "user_id", "event_id", "event_type", F.col("ts_sec").alias("sec")
    )
    order = Window.partitionBy("user_id").orderBy("sec", "event_id")
    lagged = e.withColumn("prev", F.lag("sec").over(order))
    flags = lagged.withColumn(
        "new_s",
        F.when(
            F.col("prev").isNull()
            | (F.col("sec") - F.col("prev") > SESSION_GAP_SECONDS),
            1,
        ).otherwise(0),
    )
    sess = flags.withColumn(
        "session_id",
        F.sum("new_s").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ranked = sess.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("sec", "event_id")
        ),
    ).where(F.col("rn") <= 3)
    paths = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                " > ",
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(F.count("*").alias("n_sessions"))


# ---------------------------------------------------------------------------
# EWMA without sequential recursion. s_k = (c_k + s_{k-1})/2 looks
# inherently sequential (the classic "can't distribute a recursion"
# trap), but with alpha = 1/2 the closed form over the trailing
# window [mx-39 .. mx] is
#   s = (c_0 + sum_{k>=1} c_k * 2^(k-1)) / 2^K      (k rebased, K <= 39)
# — ONE associative sum per group. The 40-day truncation is part of
# the operator's DEFINITION (terms older than 40 halvings contribute
# < 2^-40 of their value — below any 4dp output), and it bounds the
# largest weight at 2^39; the weighted terms accumulate in
# DECIMAL(38,0) so arbitrarily large daily volumes cannot overflow
# the sum either. Both engines evaluate the identical expression
# tree; no float accumulation anywhere before the final division.
# ---------------------------------------------------------------------------
EWMA_WINDOW_DAYS = 40


@register(
    "events_ewma_daily",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, cents, day,
             MIN(day) OVER (PARTITION BY event_type) AS mn,
             MAX(day) OVER (PARTITION BY event_type) AS mx
      FROM daily
    ),
    idx AS (
      SELECT event_type, cents,
             day - greatest(mn, mx - {EWMA_WINDOW_DAYS - 1}) AS k,
             mx - greatest(mn, mx - {EWMA_WINDOW_DAYS - 1}) AS bigk,
             mx - mn + 1 AS span_days
      FROM spans
      WHERE day >= greatest(mn, mx - {EWMA_WINDOW_DAYS - 1})
    )
    SELECT event_type,
           CAST(MAX(span_days) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CASE WHEN k = 0 THEN CAST(cents AS DECIMAL(38,0))
                          ELSE CAST(cents AS DECIMAL(38,0))
                               * CAST(power(2, k - 1) AS DECIMAL(38,0)) END) AS DOUBLE)
                 / CAST(power(2, MAX(bigk)) AS DOUBLE) / 100.0, 4) AS ewma
    FROM idx GROUP BY event_type
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (alpha = 1/2) of daily event value per type over the
    trailing 40-day window, via the closed-form power-of-two
    weighted sum — the recursion s_k = (c_k + s_{k-1})/2 distributed
    as one exact DECIMAL(38,0) aggregation instead of a per-day
    sequential pass. Truncation error vs the unbounded recursion is
    < 2^-40 of the oldest dropped term — unobservable at 4dp."""
    e = load_tables(spark, sf_dir)["events"]

    daily = (
        e.select(
            "event_type",
            F.expr("ts_sec div 86400").alias("day"),
            money_cents(F.col("value")).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("event_type")
    win_lo = F.greatest(
        F.min("day").over(w), F.max("day").over(w) - (EWMA_WINDOW_DAYS - 1)
    )
    idx = daily.select(
        "event_type",
        "cents",
        "day",
        (F.col("day") - win_lo).alias("k"),
        (F.max("day").over(w) - win_lo).alias("bigk"),
        (F.max("day").over(w) - F.min("day").over(w) + 1).alias("span_days"),
    ).where(F.col("k") >= 0)
    return idx.groupBy("event_type").agg(
        F.max("span_days").cast("long").alias("n_days"),
        F.round(
            F.sum(
                F.when(
                    F.col("k") == 0, F.col("cents").cast("decimal(38,0)")
                ).otherwise(
                    F.col("cents").cast("decimal(38,0)")
                    * F.expr("CAST(power(2, k - 1) AS DECIMAL(38,0))")
                )
            ).cast("double")
            / F.expr("CAST(power(2, max(bigk)) AS DOUBLE)")
            / 100.0,
            4,
        ).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Native session windows: Spark's built-in F.session_window (the
# engine operator behind streaming sessionization) run in BATCH mode,
# oracled against the same gaps-and-islands SQL the hand-rolled
# events_sessionize uses. Boundary semantics measured, not assumed:
# the built-in treats the session end as INCLUSIVE (a new event at
# exactly last+gap MERGES), i.e. it splits at diff > gap — the same
# rule as the lag-based sessionize. The sf0.1 events table contains
# exactly one diff==gap pair, so the hash compare would catch either
# off-by-one reading (a >= oracle fails there by one row; pinned by
# this sweep). Scale: one shuffle on user_id; the session merge is
# within-partition.
# ---------------------------------------------------------------------------
@register(
    "events_session_window_native",
    f"""
    WITH e AS (
      SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
    ),
    lagged AS (
      SELECT *, LAG(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM e
    ),
    flags AS (
      SELECT *, CASE WHEN prev IS NULL OR sec - prev > {SESSION_GAP_SECONDS} THEN 1 ELSE 0 END AS new_s
      FROM lagged
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flags
    )
    SELECT user_id,
           MIN(sec) AS start_sec,
           MAX(sec) + {SESSION_GAP_SECONDS} AS window_end_sec,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` in batch mode. The window end
    reported by the engine is last_event + gap (the merge bound), so
    the oracle's twin is MAX(sec) + gap over each gaps-and-islands
    session with the built-in's split rule (diff > gap, inclusive
    session end; see the boundary note above) — exact equality pins
    the engine's merge semantics."""
    t = load_tables(spark, sf_dir)
    e = t["events"].select(
        "user_id", F.timestamp_seconds(F.col("ts_sec")).alias("etime")
    )
    return (
        e.groupBy(
            "user_id",
            F.session_window("etime", f"{SESSION_GAP_SECONDS} seconds"),
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start")).alias("start_sec"),
            F.unix_timestamp(F.col("session_window.end")).alias(
                "window_end_sec"
            ),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Position-based multi-touch attribution (the "U-shaped" model every
# marketing warehouse runs): each purchase distributes its value over
# the user's click/view touchpoints in the preceding 7 days — first
# touch 40%, last touch 40%, middles split the remaining 20% evenly
# (1 touch → 100%, 2 touches → 50/50). Per-touch credit is rounded to
# integer MILLI-CENTS before aggregation, so the channel totals are
# exact integer sums — no cross-engine float-accumulation-order risk
# (the weight itself is at most two IEEE ops, bit-identical per row).
#
# Scale shape: the touch join is an equi-join on user_id with a range
# predicate — per-user fan-in is bounded by the user's 7-day activity,
# so no unbounded range-join blowup; ranking runs per purchase window.
# ---------------------------------------------------------------------------
ATTR_WINDOW_SEC = 7 * 86400


@register(
    "events_multitouch_attribution",
    f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      FROM events
    ),
    purchases AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    touches AS (SELECT * FROM ev WHERE event_type IN ('click', 'view')),
    paired AS (
      SELECT p.event_id AS pid, p.cents,
             t.event_type AS channel, t.ts_sec AS tts, t.event_id AS tid
      FROM purchases p JOIN touches t
        ON p.user_id = t.user_id
       AND t.ts_sec < p.ts_sec
       AND t.ts_sec >= p.ts_sec - {ATTR_WINDOW_SEC}
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS rk_asc,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rk_desc,
             COUNT(*) OVER (PARTITION BY pid) AS n
      FROM paired
    ),
    credited AS (
      SELECT channel,
             CAST(ROUND(cents * 1000 * (
               CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN rk_asc = 1 OR rk_desc = 1 THEN 0.4
                    ELSE 0.2 / (n - 2) END), 0) AS BIGINT) AS millicents
      FROM ranked
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(millicents) AS BIGINT) AS credit_millicents
    FROM credited GROUP BY channel
    """,
)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: purchase value credited 40/20/40 over the prior 7-day click/view touchpoints, exact integer channel totals."""
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id",
        "user_id",
        "event_type",
        "ts_sec",
        money_cents(F.col("value")).alias("cents"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("uid"),
        F.col("ts_sec").alias("pts"),
        "cents",
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("channel"),
        F.col("ts_sec").alias("tts"),
        F.col("event_id").alias("tid"),
    )
    paired = p.join(t, "uid").where(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - ATTR_WINDOW_SEC)
    )
    w_asc = Window.partitionBy("pid").orderBy(F.asc("tts"), F.asc("tid"))
    w_desc = Window.partitionBy("pid").orderBy(F.desc("tts"), F.desc("tid"))
    w_n = Window.partitionBy("pid")
    ranked = (
        paired.withColumn("rk_asc", F.row_number().over(w_asc))
        .withColumn("rk_desc", F.row_number().over(w_desc))
        .withColumn("n", F.count("*").over(w_n))
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rk_asc") == 1) | (F.col("rk_desc") == 1), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        ranked.withColumn(
            "millicents",
            F.round(F.col("cents") * 1000 * weight, 0).cast("bigint"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("millicents").alias("credit_millicents"),
        )
    )


# ===========================================================================
# Event analytics: CUSUM changepoint detection and
# sequential-pattern mining (PrefixSpan-style, bounded length) over the
# events table — the monitoring/mining verbs a training-data pipeline
# runs against its ingest telemetry.
#
# Both stay exact-integer (or integer-ratio) end to end so the DuckDB
# oracles are full hash matches, following the repo's exact-math oracle
# discipline (functions/exact_math.py).
# ===========================================================================


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over per-type daily event counts.
#
# The one-sided CUSUM recurrence S_t = max(0, S_{t-1} + x_t - μ - k)
# is not a window function, but its reflection identity is:
#   S_t = P_t - min(0, min_{j≤t} P_j),  P_t = Σ_{i≤t} (x_i - μ - k)
# i.e. one running sum + one running min — two ordered windows per
# key, no recursion, no UDF. At 100 TB this is a single shuffle on
# event_type and two sorted window passes over tiny per-type daily
# series (days-per-type rows, not events).
#
# Exactness: μ = s/n and k = μ/4 are rationals, so everything is
# multiplied through by 4n: y' = 4n·x − 5·s is a BIGINT, the threshold
# 2μ scales to h' = 8·s, and the oracle hash-matches bit for bit.
# ---------------------------------------------------------------------------


@register(
    "events_cusum_changepoint",
    """
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
      FROM d GROUP BY 1
    ),
    y AS (
      SELECT d.event_type, d.day, 4 * st.n * d.x - 5 * st.s AS yv,
             8 * st.s AS h
      FROM d JOIN st USING (event_type)
    ),
    p AS (
      SELECT *, CAST(SUM(yv) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pf
      FROM y
    ),
    cus AS (
      SELECT event_type, day, h,
             pf - LEAST(0, MIN(pf) OVER (PARTITION BY event_type ORDER BY day
                                         ROWS UNBOUNDED PRECEDING)) AS cusum
      FROM p
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY cusum DESC, day) AS rn
      FROM cus
    )
    SELECT event_type, day, cusum AS cusum_scaled,
           cusum > h AS flagged, CAST(rn AS BIGINT) AS rnk
    FROM ranked WHERE rn <= 3
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 CUSUM peaks per event type over daily counts (reflection identity: running sum minus running min, exact 4n-scaled integers), with the 2-mean threshold flag."""
    t = load_tables(spark, sf_dir)
    d = (
        t["events"]
        .groupBy(
            "event_type", F.expr("ts_sec div 86400").alias("day")
        )
        .agg(F.count("*").alias("x"))
    )
    st = d.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    y = d.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        (4 * F.col("n") * F.col("x") - 5 * F.col("s")).alias("yv"),
        (8 * F.col("s")).alias("h"),
    )
    ow = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cus = y.withColumn("pf", F.sum("yv").over(ow)).select(
        "event_type",
        "day",
        "h",
        (
            F.col("pf")
            - F.least(F.lit(0).cast("long"), F.min("pf").over(ow))
        ).alias("cusum"),
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.desc("cusum"), F.asc("day")
    )
    return (
        cus.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") <= 3)
        .select(
            "event_type",
            "day",
            F.col("cusum").alias("cusum_scaled"),
            (F.col("cusum") > F.col("h")).alias("flagged"),
            F.col("rn").cast("long").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential-pattern mining (PrefixSpan-style, lengths 2 and 3): which
# ordered event-type subsequences (not necessarily contiguous) occur in
# at least MIN_SUPPORT_PCT of users' histories. The itemset twin is
# basket_association_rules; this is the SEQUENCE miner.
#
# Encoding: per-user position ranks (ROW_NUMBER over (ts_ns, event_id))
# reduce subsequence-existence to integer comparisons on per-(user,
# type) min/max positions — a→b exists iff min_pos(a) < max_pos(b),
# a→b→c iff some b-occurrence sits strictly between min_pos(a) and
# max_pos(c). No per-user sequence materialization, no UDF.
#
# Scale: the pair stage joins two |users|×|types| aggregate tables on
# user (|types| is a small fixed vocabulary, so the fan-out per user is
# |types|² — constant); the triple stage additionally touches each raw
# occurrence once per (a, c) pair — O(|events|·|types|²) with map-side
# combine into the distinct-user count. One shuffle each on user_id.
# ---------------------------------------------------------------------------
MIN_SUPPORT_PCT = 30


def _seq_oracle() -> str:
    return f"""
    WITH occ AS MATERIALIZED (
      SELECT user_id, event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id)
                  AS BIGINT) AS pos
      FROM events
    ),
    agg AS MATERIALIZED (
      SELECT user_id, event_type, MIN(pos) AS minp, MAX(pos) AS maxp
      FROM occ GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM occ),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
      FROM agg a JOIN agg b ON a.user_id = b.user_id
      WHERE a.minp < b.maxp
      GROUP BY 1, 2
    ),
    triples AS (
      SELECT a.event_type AS ta, o.event_type AS tb, c.event_type AS tc,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
      FROM agg a
      JOIN occ o ON o.user_id = a.user_id AND o.pos > a.minp
      JOIN agg c ON c.user_id = a.user_id AND c.maxp > o.pos
      GROUP BY 1, 2, 3
    ),
    unioned AS (
      SELECT ta || '>' || tb AS pattern, CAST(2 AS INTEGER) AS length,
             n_users
      FROM pairs
      UNION ALL
      SELECT ta || '>' || tb || '>' || tc AS pattern,
             CAST(3 AS INTEGER) AS length, n_users
      FROM triples
    )
    SELECT pattern, length, n_users,
           ROUND(n_users * 100.0 / tot.nu, 2) AS support_pct
    FROM unioned CROSS JOIN tot
    WHERE n_users * 100 >= {MIN_SUPPORT_PCT} * tot.nu
    """


@register("seq_pattern_mining", _seq_oracle())
def seq_pattern_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent ordered event-type subsequences of length 2 and 3 (PrefixSpan-style support mining over per-user position ranks, >=30% user support)."""
    t = load_tables(spark, sf_dir)
    ow = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    occ = t["events"].select(
        "user_id",
        "event_type",
        F.row_number().over(ow).cast("long").alias("pos"),
    )
    agg = occ.groupBy("user_id", "event_type").agg(
        F.min("pos").alias("minp"), F.max("pos").alias("maxp")
    )
    tot = occ.agg(
        F.count_distinct("user_id").cast("long").alias("nu")
    )
    a = agg.select(
        "user_id", F.col("event_type").alias("ta"), F.col("minp").alias("aminp")
    )
    b = agg.select(
        "user_id", F.col("event_type").alias("tb"), F.col("maxp").alias("bmaxp")
    )
    pairs = (
        a.join(b, "user_id")
        .where(F.col("aminp") < F.col("bmaxp"))
        .groupBy("ta", "tb")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .select(
            F.concat_ws(">", "ta", "tb").alias("pattern"),
            F.lit(2).alias("length"),
            "n_users",
        )
    )
    o = occ.select(
        "user_id", F.col("event_type").alias("tb"), F.col("pos").alias("bpos")
    )
    c = agg.select(
        "user_id", F.col("event_type").alias("tc"), F.col("maxp").alias("cmaxp")
    )
    triples = (
        a.join(o, "user_id")
        .where(F.col("bpos") > F.col("aminp"))
        .join(c, "user_id")
        .where(F.col("cmaxp") > F.col("bpos"))
        .groupBy("ta", "tb", "tc")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .select(
            F.concat_ws(">", "ta", "tb", "tc").alias("pattern"),
            F.lit(3).alias("length"),
            "n_users",
        )
    )
    unioned = pairs.unionByName(triples).crossJoin(F.broadcast(tot))
    return unioned.where(
        F.col("n_users") * 100 >= MIN_SUPPORT_PCT * F.col("nu")
    ).select(
        "pattern",
        "length",
        "n_users",
        F.round(F.col("n_users") * 100.0 / F.col("nu"), 2).alias(
            "support_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic data-quality screen for
# fabricated or truncated numeric feeds (naturally-grown monetary
# amounts follow log10(1+1/d); synthetic uniform ones do not). The
# digit is extracted from exact integer cents via string length (no
# float log on data), and the Benford expectations are inlined
# integer ppm constants, so the whole audit is exact arithmetic.
# One groupBy on a 9-value key; at 100 TB the map-side combine
# reduces everything before one tiny exchange.
# ---------------------------------------------------------------------------
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_oracle() -> str:
    vals = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())
    return f"""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders
    ),
    digits AS (
      SELECT c // CAST(POWER(10, LENGTH(CAST(c AS VARCHAR)) - 1) AS BIGINT)
               AS digit
      FROM cents WHERE c > 0
    ),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    exp_tbl(digit, expected_ppm) AS (VALUES {vals})
    SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           CAST(ROUND(COALESCE(o.n_obs, 0) * 1000000.0 / tot.n, 0) AS BIGINT)
             AS obs_ppm,
           CAST(ROUND(COALESCE(o.n_obs, 0) * 1000000.0 / tot.n, 0) AS BIGINT)
             - e.expected_ppm AS delta_ppm
    FROM exp_tbl e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot
    """


@register("dq_benford_digits", _benford_oracle())
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed vs expected ppm per leading digit, exact integer arithmetic end to end."""
    t = load_tables(spark, sf_dir)
    cents = t["orders"].select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c")
    ).where(F.col("c") > 0)
    digits = cents.select(
        (
            F.col("c")
            / F.pow(
                F.lit(10.0), F.length(F.col("c").cast("string")) - 1
            ).cast("long")
        )
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    exp_rows = [(d, p) for d, p in _BENFORD_PPM.items()]
    exp_tbl = digits.sparkSession.createDataFrame(
        exp_rows, "digit long, expected_ppm long"
    )
    joined = (
        exp_tbl.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0).cast("long")).alias("n_obs"),
            "expected_ppm",
            F.round(
                F.coalesce("n_obs", F.lit(0).cast("long"))
                * 1000000.0
                / F.col("n"),
                0,
            )
            .cast("long")
            .alias("obs_ppm"),
        )
    )
    return joined.withColumn(
        "delta_ppm", F.col("obs_ppm") - F.col("expected_ppm")
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (moving-average STL-lite) of the
# per-type daily count series: trend = centered 7-day moving sum
# (only where the window is fully populated), seasonal = day-of-week
# mean of the detrended series, remainder = what's left. Everything
# stays in scaled integers — detrended d7 = 7·x − trend7_sum carries
# an implicit /7, the residual carries an implicit /(7·s_cnt) — so the
# oracle hash-matches exactly (no float MA, no float means).
#
# Scale: one groupBy(event_type, day) over the raw events (map-side
# combinable), then two window passes over the tiny per-type daily
# series and one broadcast-size (type × 7)-row seasonal join. The
# expensive input shuffle is the same single shuffle CUSUM pays.
# ---------------------------------------------------------------------------


@register(
    "events_seasonal_decompose",
    """
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT *,
             CAST(SUM(x) OVER w AS BIGINT) AS w_sum,
             CAST(COUNT(*) OVER w AS BIGINT) AS w_cnt
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type, day, x,
             CASE WHEN w_cnt = 7 THEN w_sum END AS trend7_sum,
             CASE WHEN w_cnt = 7 THEN 7 * x - w_sum END AS d7,
             day % 7 AS dow
      FROM tr
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(SUM(d7) AS BIGINT) AS s_sum,
             CAST(COUNT(d7) AS BIGINT) AS s_cnt
      FROM det GROUP BY 1, 2
    )
    SELECT t.event_type, t.day, t.x, t.trend7_sum, t.d7, t.dow,
           s.s_sum, s.s_cnt,
           t.d7 * s.s_cnt - s.s_sum AS resid_scaled
    FROM det t JOIN seas s
      ON s.event_type = t.event_type AND s.dow = t.dow
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average seasonal decomposition of per-type daily counts: centered 7-day trend sum, day-of-week seasonal mean, scaled-integer residual."""
    t = load_tables(spark, sf_dir)
    d = (
        t["events"]
        .groupBy("event_type", F.expr("ts_sec div 86400").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-3, 3)
    )
    tr = d.withColumn("w_sum", F.sum("x").over(w).cast("long")).withColumn(
        "w_cnt", F.count("*").over(w).cast("long")
    )
    full = F.col("w_cnt") == 7
    det = tr.select(
        "event_type",
        "day",
        "x",
        F.when(full, F.col("w_sum")).alias("trend7_sum"),
        F.when(full, 7 * F.col("x") - F.col("w_sum")).alias("d7"),
        (F.col("day") % 7).alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("d7").cast("long").alias("s_sum"),
        F.count("d7").cast("long").alias("s_cnt"),
    )
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "day",
        "x",
        "trend7_sum",
        "d7",
        "dow",
        "s_sum",
        "s_cnt",
        (F.col("d7") * F.col("s_cnt") - F.col("s_sum")).alias(
            "resid_scaled"
        ),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the per-type daily count series, lags
# 1..7 — the diagnostic that tells an ingest-monitoring pipeline
# whether its volume series has weekly structure worth a seasonal
# model. Exactness: with n days and total s per type, the scaled
# deviation dev_t = n·x_t − s is a BIGINT carrying an implicit /n, so
# num_k = Σ dev_t·dev_{t+k} and den = Σ dev_t² are exact integers and
# the lag-k autocorrelation is num/den with the scaling cancelled.
# Magnitude bound: |dev| ≤ n·max(x), so num ≤ days·(n·max_x)² —
# ~3e15 even at sf100 for this series shape, inside BIGINT.
#
# Scale: the lag pairs come from ONE self-join of the tiny per-type
# daily table on (event_type, 1 ≤ Δday ≤ 7) — days-per-type rows, not
# events — so the only event-scale work is the same daily-count
# shuffle the other monitoring verbs share.
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 7


@register(
    "events_autocorrelation",
    f"""
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s
      FROM d GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.n * d.x - d.s AS dv
      FROM (SELECT d.*, st.n, st.s FROM d JOIN st USING (event_type)) d
    ),
    den AS (
      SELECT event_type, CAST(SUM(dv * dv) AS BIGINT) AS den_scaled
      FROM dev GROUP BY 1
    ),
    num AS (
      SELECT a.event_type, b.day - a.day AS lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(a.dv * b.dv) AS BIGINT) AS num_scaled
      FROM dev a JOIN dev b
        ON b.event_type = a.event_type
       AND b.day > a.day AND b.day <= a.day + {ACF_MAX_LAG}
      GROUP BY 1, 2
    )
    SELECT n.event_type, n.lag, n.n_pairs, n.num_scaled, d.den_scaled
    FROM num n JOIN den d USING (event_type)
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer autocorrelation of per-type daily counts at lags 1..7: scaled deviation products (num_scaled/den_scaled carries the lag-k ACF)."""
    t = load_tables(spark, sf_dir)
    d = (
        t["events"]
        .groupBy("event_type", F.expr("ts_sec div 86400").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    st = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = d.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        (F.col("n") * F.col("x") - F.col("s")).alias("dv"),
    )
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("den_scaled")
    )
    a = dev.select(
        "event_type", F.col("day").alias("a_day"), F.col("dv").alias("a_dv")
    )
    b = dev.select(
        "event_type", F.col("day").alias("b_day"), F.col("dv").alias("b_dv")
    )
    num = (
        a.join(
            b,
            [
                a.event_type == b.event_type,
                b.b_day > a.a_day,
                b.b_day <= a.a_day + ACF_MAX_LAG,
            ],
        )
        .select(
            a.event_type.alias("event_type"),
            (F.col("b_day") - F.col("a_day")).alias("lag"),
            (F.col("a_dv") * F.col("b_dv")).alias("prod"),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("prod").cast("long").alias("num_scaled"),
        )
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type", "lag", "n_pairs", "num_scaled", "den_scaled"
    )


# ---------------------------------------------------------------------------
# Approximate quantiles from a fixed-grid histogram — the one-pass,
# MERGEABLE scale path next to the exact sort-based
# events_value_quantiles/exact_percentiles_orders: per-partition
# 64-bin counts merge by addition (the property t-digest/KLL trade
# determinism for; a fixed grid keeps bit-exact determinism instead),
# so at 100 TB the only shuffle is 64 counters per key. Estimation
# error is bounded by one bin width; the bound is asserted against
# the exact quantiles in tests. All arithmetic is the same double
# expression tree in both engines (grid edges from min/max, linear
# interpolation inside the hit bin), rounded to 6dp at the end.
# ---------------------------------------------------------------------------
HIST_BINS = 64
HIST_QS = (25, 50, 75, 90)


@register(
    "approx_quantiles_histogram",
    f"""
    WITH v AS (
      SELECT event_type, CAST(value AS DOUBLE) AS val FROM events
    ),
    st AS (
      SELECT event_type, MIN(val) AS mn, MAX(val) AS mx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY 1
    ),
    binned AS (
      SELECT v.event_type,
             LEAST({HIST_BINS - 1}, GREATEST(0, CAST(FLOOR(
               (v.val - st.mn) * {HIST_BINS} / (st.mx - st.mn)
             ) AS BIGINT))) AS bin
      FROM v JOIN st USING (event_type)
    ),
    hist AS (
      SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
      FROM hist
    ),
    qs AS (
      SELECT q FROM (VALUES {", ".join(f"({q})" for q in HIST_QS)}) t(q)
    ),
    tgt AS (
      SELECT st.event_type, qs.q,
             CAST(st.n * qs.q AS BIGINT) AS num, st.n, st.mn, st.mx
      FROM st CROSS JOIN qs
    ),
    hit AS (
      SELECT t.event_type, t.q, t.mn, t.mx, c.bin, c.c, c.cc,
             c.cc - c.c AS prev
      FROM tgt t JOIN cum c ON c.event_type = t.event_type
      WHERE c.cc * 100 >= t.num AND (c.cc - c.c) * 100 < t.num
    )
    SELECT event_type, CAST(q AS BIGINT) AS q,
           ROUND(mn + (bin + (
             (CAST(q AS DOUBLE) / 100.0) * (
               SELECT n FROM st s WHERE s.event_type = hit.event_type
             ) - prev
           ) / c) * (mx - mn) / {HIST_BINS}, 6) AS est
    FROM hit
    """,
)
def approx_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-type value quantiles (p25/50/75/90) from a mergeable fixed 64-bin histogram with linear in-bin interpolation."""
    t = load_tables(spark, sf_dir)
    v = t["events"].select(
        "event_type", F.col("value").cast("double").alias("val")
    )
    st = v.groupBy("event_type").agg(
        F.min("val").alias("mn"),
        F.max("val").alias("mx"),
        F.count("*").cast("long").alias("n"),
    )
    binned = v.join(F.broadcast(st), "event_type").select(
        "event_type",
        F.least(
            F.lit(HIST_BINS - 1),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor(
                    (F.col("val") - F.col("mn"))
                    * HIST_BINS
                    / (F.col("mx") - F.col("mn"))
                ).cast("long"),
            ),
        ).alias("bin"),
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count("*").cast("long").alias("c")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cc", F.sum("c").over(wc).cast("long"))
    # literal quantile list as a JVM-side explode (a createDataFrame
    # literal would plan an applySchemaToPythonRDD scan)
    qs = v.sparkSession.range(1).select(
        F.explode(
            F.array(*[F.lit(q).cast("long") for q in HIST_QS])
        ).alias("q")
    )
    tgt = st.crossJoin(F.broadcast(qs)).select(
        "event_type",
        "q",
        (F.col("n") * F.col("q")).cast("long").alias("num"),
        "n",
        "mn",
        "mx",
    )
    hit = tgt.join(cum, "event_type").where(
        (F.col("cc") * 100 >= F.col("num"))
        & ((F.col("cc") - F.col("c")) * 100 < F.col("num"))
    )
    return hit.select(
        "event_type",
        F.col("q").cast("long").alias("q"),
        F.round(
            F.col("mn")
            + (
                F.col("bin")
                + (
                    F.col("q").cast("double") / 100.0 * F.col("n")
                    - (F.col("cc") - F.col("c"))
                )
                / F.col("c")
            )
            * (F.col("mx") - F.col("mn"))
            / HIST_BINS,
            6,
        ).alias("est"),
    )
