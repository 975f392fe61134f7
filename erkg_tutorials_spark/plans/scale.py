"""Scale-execution patterns as first-class registry queries.

These queries demonstrate — with exact, fully-oracled results —
the physical-layer techniques a 100 TB deployment leans on:

- ``runtime_prefilter_join``: a hand-rolled runtime filter (the
  coarse-key half of a Bloom/DPP filter): the fact scan is prefiltered
  by a tiny broadcast set of hashed build-side keys before the exact
  semi-join. The prefilter is a strict superset filter, so the result
  is bit-identical to the plain semi-join the oracle runs.
- ``skew_salted_agg``: the two-phase salted aggregation rewrite for
  skewed groupBy keys (AQE splits skewed *join* partitions but not
  skewed aggregation groups). Exact-integer sums make the two-phase
  result order-independent and identical to the one-phase oracle.
- ``zorder_clustering``: multi-dimensional Z-order (Morton) layout
  keys — the data-layout primitive behind Delta/Iceberg Z-ordering —
  computed with pure integer bit arithmetic that both engines replay
  exactly.
- ``events_histogram``: fixed-width histogram over a double column
  using only per-row IEEE ops (divide, floor) plus exact counts, so
  no cross-engine summation-order risk exists.
- ``bucketed_colocated_revenue``: Spark bucketed tables (bucketBy +
  sortBy at write time) make every later equi-join on the bucket key
  shuffle-free — the plan gate asserts the SortMergeJoin has NO
  Exchange on either side.

All plans are single-shuffle (one groupBy each) except the prefilter
join, whose extra exchange is a broadcast build — nothing here grows
super-linearly with the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import exact_money_sum
from erkg_tutorials_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Runtime-filter join: coarse hashed-key prefilter + exact confirm.
#
# At 100 TB the build side's distinct-key set may be too large to
# broadcast raw, but its *hashed coarse image* (mod M) is at most M
# rows regardless of build size — that tiny set broadcasts to every
# fact scan task and discards the bulk of fact rows before the real
# join pays its shuffle/build cost. Spark's own
# ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects the
# same shape automatically; this query pins the explicit rewrite so
# the pattern (and its exactness guarantee: prefilter ⊇ matches) is
# part of the tested surface.
# ---------------------------------------------------------------------------
PREFILTER_MOD = 4096
ACCTBAL_MIN = 9000.0


@register(
    "runtime_prefilter_join",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total_price
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > {ACCTBAL_MIN}
    )
    GROUP BY 1
    """,
)
def runtime_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern: small filtered dim drives a semi-join prefilter before the fact join."""
    t = load_tables(spark, sf_dir)
    rich = t["customer"].where(F.col("c_acctbal") > ACCTBAL_MIN)
    coarse = (
        rich.select(
            F.pmod(F.xxhash64(F.col("c_custkey")), F.lit(PREFILTER_MOD)).alias("__ck")
        )
        .distinct()
    )
    fact = t["orders"].withColumn(
        "__ck", F.pmod(F.xxhash64(F.col("o_custkey")), F.lit(PREFILTER_MOD))
    )
    # stage 1: coarse prefilter — ≤ PREFILTER_MOD broadcast rows, never
    # false-negative (same hash both sides)
    prefiltered = fact.join(F.broadcast(coarse), "__ck", "left_semi")
    # stage 2: exact confirm against the true key set
    confirmed = prefiltered.join(
        F.broadcast(rich.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_semi",
    )
    return confirmed.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        exact_money_sum(F.col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Salted two-phase aggregation. event_type has ~5 distinct values over
# every event row — the canonical aggregation-skew shape (5 reducers do
# all the work no matter how many partitions you shuffle into). The
# rewrite scatters each group over SALT partial groups first; integer
# sums make the recombination exact.
# ---------------------------------------------------------------------------
AGG_SALT = 16


@register(
    "skew_salted_agg",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY 1
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe aggregation: salted partial groupBy then final merge on the hot key."""
    from erkg_tutorials_spark.functions.exact_math import money_cents

    ev = load_tables(spark, sf_dir)["events"]
    # content-derived salt from a UNIQUE column: uniform by
    # construction, deterministic under task retry (unlike a random or
    # position-derived salt)
    salted = ev.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(AGG_SALT))
    )
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count("*").alias("_n"), F.sum(money_cents(F.col("value"))).alias("_c")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        (F.sum("_c") / 100.0).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Z-order layout keys. Interleaving the low 8 bits of two bucketed
# dimensions gives a 16-bit Morton key; range-partitioning/sorting by
# it co-locates rows that are close in BOTH dimensions, which is what
# lets a 100 TB table prune files on either predicate. The query
# reports per-z-range extents: each 64-key range touches only a
# narrow band of custkey-buckets AND date-buckets — the locality
# property itself, made visible (and hash-gated) as data.
# ---------------------------------------------------------------------------
ZBITS = 8


def _interleave_expr(x: str, y: str, engine: str) -> str:
    """Morton interleave of the low ZBITS bits of x (even positions)
    and y (odd positions), as a SQL expression both engines evaluate
    identically on BIGINTs."""
    terms = []
    for i in range(ZBITS):
        if engine == "spark":
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_clustering",
    f"""
    WITH b AS (
      SELECT o_orderkey,
             o_custkey % 256 AS x,
             datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS y
      FROM orders
    ),
    z AS (
      SELECT o_orderkey, x, y, {_interleave_expr('x', 'y', 'duck')} AS zkey
      FROM b
    )
    SELECT CAST(zkey >> 6 AS BIGINT) AS zrange,
           COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM z GROUP BY 1
    """,
)
def zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order interleaved clustering key over two columns with per-bucket min/max pruning stats."""
    o = load_tables(spark, sf_dir)["orders"]
    b = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256).alias("y"),
    )
    z = b.withColumn("zkey", F.expr(_interleave_expr("x", "y", "spark")))
    return z.groupBy(
        F.shiftright(F.col("zkey"), 6).cast("long").alias("zrange")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


def zorder_deinterleave(zkey: int) -> tuple[int, int]:
    """Inverse of the interleave (test helper): recover (x, y)."""
    x = y = 0
    for i in range(ZBITS):
        x |= ((zkey >> (2 * i)) & 1) << i
        y |= ((zkey >> (2 * i + 1)) & 1) << i
    return x, y


# ---------------------------------------------------------------------------
# Equi-width histogram. The binning op is per-row IEEE (value/width,
# floor) — deterministic across engines — and every aggregate is a
# count or extremum, so the whole query is exact with no scaling
# tricks. One shuffle, output bounded by bin count.
# ---------------------------------------------------------------------------
HIST_WIDTH = 25.0


@register(
    "events_histogram",
    f"""
    SELECT CAST(FLOOR(value / {HIST_WIDTH}) AS BIGINT) AS bin,
           CAST(FLOOR(value / {HIST_WIDTH}) AS BIGINT) * {HIST_WIDTH} AS bin_lo,
           COUNT(*) AS n,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram over events with exact integer bucket bounds."""
    ev = load_tables(spark, sf_dir)["events"]
    binned = ev.withColumn(
        "bin", F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long")
    )
    return binned.groupBy("bin", (F.col("bin") * HIST_WIDTH).alias("bin_lo")).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join: both fact tables are written ONCE as
# bucketed+sorted parquet tables (Spark's bucketBy — hash-partitioned
# on the join key at write time), so every later join on that key
# runs shuffle-free: the SortMergeJoin reads pre-bucketed,
# pre-sorted files with NO Exchange on either side. This is the
# storage-layout half of the shuffle-minimization story (the
# runtime-filter query above is the scan-pruning half): at 100 TB a
# nightly-bucketed fact table amortizes its one write across every
# downstream join. The write is memoized per (session, sf_dir);
# the oracle is the plain join, so the result is layout-independent.
# ---------------------------------------------------------------------------
BUCKETS = 8


def _evict_stale_layouts(root: str, prefix: str, keep: str) -> None:
    """Remove fingerprinted /tmp layout siblings superseded by ``keep``.

    The fingerprint (source size+mtime) in each layout name guards
    against stale reads; this guards against stale DISK — without it,
    every testdata regeneration orphans a full copy of the table under
    ``root``. Only same-prefix siblings are touched, so concurrent
    layouts for other tables / sf_dirs are unaffected. (These are
    single-machine /tmp scratch dirs; a concurrent session holding the
    superseded layout would re-write it on next use.)"""
    import os as _os
    import shutil as _shutil

    try:
        entries = _os.listdir(root)
    except FileNotFoundError:
        return
    for entry in entries:
        if entry.startswith(prefix) and entry != keep:
            _shutil.rmtree(_os.path.join(root, entry), ignore_errors=True)


def bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, key: str, buckets: int = BUCKETS
) -> DataFrame:
    """Return ``table`` as a bucketed+sorted catalog table, writing it
    on first use (files under /tmp/erkg_bucketed, session-scoped
    catalog entry — with the default in-memory catalog, bucket
    metadata lives for the session, which is exactly the memo
    lifetime the rest of the engine uses)."""
    import os as _os
    import re as _re

    safe = _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    st = _os.stat(_os.path.join(sf_dir, f"{table}.parquet"))
    name = f"bkt_{table}_{key}_{buckets}_{safe}_{st.st_size}_{int(st.st_mtime)}"
    if not spark.catalog.tableExists(name):
        _evict_stale_layouts(
            "/tmp/erkg_bucketed", f"bkt_{table}_{key}_{buckets}_{safe}_", name
        )
        (
            load_tables(spark, sf_dir)[table]
            .write.format("parquet")
            .option("path", f"/tmp/erkg_bucketed/{name}")
            .bucketBy(buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return spark.table(name)


@register(
    "bucketed_colocated_revenue",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT))
             / 10000.0 AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_colocated_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue via a shuffle-free bucketed join.

    Both sides come from ``bucketed_table`` (same key, same bucket
    count), so the SortMergeJoin needs no Exchange — the plan gate in
    tests/test_scale_ops.py asserts it. Results are identical to the
    plain-join oracle by construction.
    """
    o = bucketed_table(spark, sf_dir, "orders", "o_orderkey").select(
        "o_orderkey", "o_orderpriority"
    )
    li = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_orderkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
        )
        .cast("long")
        .alias("rev4"),
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            (F.sum("rev4") / 10000.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Partition-pruned reads: the third storage-layout primitive next to
# bucketing (co-located joins) and Z-order (multi-dim clustering).
# The event stream is written ONCE partitioned by day
# (write.partitionBy — one directory per day, the lakehouse layout);
# a date-range query then reads ONLY the in-range directories: the
# scan's PartitionFilters prune at file-listing time, before any IO.
# The plan gate in tests/test_scale_patterns.py asserts the pruned
# scan reads fewer files than the full table has partitions.
# ---------------------------------------------------------------------------
PRUNE_FROM_DAY = 19748  # 2024-01-26; events span 2024-01-01..30 at every SF


def day_partitioned_events(spark: SparkSession, sf_dir: str):
    """Return (path, DataFrame) of events written day-partitioned,
    writing on first use (memoized by the parquet _SUCCESS marker)."""
    import os as _os
    import re as _re

    from erkg_tutorials_spark.functions.exact_math import money_cents

    safe = _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    # fingerprint the source file into the path: if the driver ever
    # regenerates the testdata in place, a stale /tmp copy must never
    # satisfy the memo (it would silently serve old rows)
    st = _os.stat(_os.path.join(sf_dir, "events.parquet"))
    path = f"/tmp/erkg_partitioned/events_{safe}_{st.st_size}_{int(st.st_mtime)}"
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        _evict_stale_layouts(
            "/tmp/erkg_partitioned", f"events_{safe}_", _os.path.basename(path)
        )
        (
            load_tables(spark, sf_dir)["events"]
            .select(
                "event_id",
                "user_id",
                "event_type",
                money_cents(F.col("value")).alias("cents"),
                F.expr("ts_sec div 86400").alias("day"),
            )
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(path)
        )
    return path, spark.read.parquet(path)


@register(
    "partition_pruned_daily",
    f"""
    SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value
    FROM events
    WHERE CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 >= {PRUNE_FROM_DAY}
    GROUP BY 1, 2
    """,
)
def partition_pruned_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup over the tail of the event stream, read through
    the day-partitioned layout so out-of-range days are pruned at
    file-listing time (PartitionFilters, zero IO for pruned days).
    Results are layout-independent — the oracle filters the raw
    table."""
    _, ev = day_partitioned_events(spark, sf_dir)
    return (
        ev.where(F.col("day") >= PRUNE_FROM_DAY)
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("cents") / 100.0).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Custom Python DataSource scan (Spark 4 pyspark.sql.datasource API):
# the storage-extension story — a row-group-partitioned Arrow parquet
# reader with genuine filter pushdown (pushFilters absorbs the
# o_orderstatus equality and applies it batch-side in pyarrow BEFORE
# rows reach the JVM; the physical plan shows BatchScan arrow_parquet
# with NO post-scan Filter). Oracle equality proves the absorbed
# filter was actually applied — a source that accepts-and-drops a
# filter returns wrong rows and hash-fails. See sources/pyds.py for
# the 100 TB partitioning story (one task per file x row-group).
# ---------------------------------------------------------------------------
@register(
    "pyds_scan_orders",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_f_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def pyds_scan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate finished orders read through the custom
    ``arrow_parquet`` Python data source (projection via the
    ``columns`` option, o_orderstatus filter pushed into the source)."""
    import os as _os

    from erkg_tutorials_spark.sources.pyds import register_arrow_parquet

    register_arrow_parquet(spark)
    df = (
        spark.read.format("arrow_parquet")
        .option("path", _os.path.join(sf_dir, "orders.parquet"))
        .option("columns", "o_orderpriority,o_orderstatus,o_totalprice")
        .load()
    )
    return (
        df.where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_f_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )


@register(
    "pyds_roundtrip_orders",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_f_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def pyds_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full round trip through the custom Python DataSource: finished
    orders WRITTEN via the two-phase-commit arrow writer (staging →
    driver-side rename + _SUCCESS; sources/pyds.py) into a
    fingerprinted /tmp layout, then READ BACK via the custom reader
    and aggregated. Oracle equality proves the sink committed every
    row exactly once and the reader returned exactly what was
    committed. Re-runs reuse the committed layout (_SUCCESS guard),
    the same skip-if-built convention as the bucketed/partitioned
    layouts above."""
    import os as _os
    import re as _re

    from erkg_tutorials_spark.sources.pyds import register_arrow_parquet

    register_arrow_parquet(spark)
    safe = _re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    st = _os.stat(_os.path.join(sf_dir, "orders.parquet"))
    name = f"rt_{safe}_{st.st_size}_{int(st.st_mtime)}"
    root = "/tmp/erkg_pyds_roundtrip"
    path = _os.path.join(root, name)
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        _evict_stale_layouts(root, f"rt_{safe}_", name)
        (
            load_tables(spark, sf_dir)["orders"]
            .where(F.col("o_orderstatus") == "F")
            .select(
                "o_orderpriority", "o_custkey", "o_totalprice", "o_orderstatus"
            )
            .write.format("arrow_parquet")
            .mode("overwrite")
            .option("path", path)
            .save()
        )
    back = (
        spark.read.format("arrow_parquet").option("path", path).load()
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_f_orders"),
        F.count_distinct(F.col("o_custkey")).cast("long").alias("n_customers"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout keys — the locality-better successor to the
# Z-order key above (the layout Databricks liquid clustering moved to:
# a Hilbert walk never jumps across the space the way Morton's
# bit-interleave does at quadrant seams, so per-file min/max extents
# are tighter and data skipping prunes more). The classic xy2d bit
# loop is unrolled into HBITS levels of pure CASE/&/arithmetic — one
# dialect-free SQL string drives BOTH engines, so parity is by
# construction ((3·rx) XOR ry is enumerated as a CASE, no dialect
# bit-xor needed). Same output shape as zorder_clustering for a
# like-for-like extent comparison (tests/test_scale_patterns.py
# asserts Hilbert's mean extent beats Morton's on the same bucketing).
# ---------------------------------------------------------------------------
HBITS = 8


def _hilbert_level_exprs(s: int, n1: int) -> tuple[str, str, str]:
    """(new_x, new_y, d_increment) expressions for one xy2d level,
    referencing columns ``x``, ``y``; shared Spark/DuckDB syntax."""
    rx1 = f"(x & {s}) > 0"
    ry1 = f"(y & {s}) > 0"
    d_inc = f"""{s * s} * (CASE
      WHEN NOT ({rx1}) AND NOT ({ry1}) THEN 0
      WHEN NOT ({rx1}) THEN 1
      WHEN {ry1} THEN 2
      ELSE 3 END)"""
    new_x = f"""CASE WHEN {ry1} THEN x
      WHEN {rx1} THEN {n1} - y
      ELSE y END"""
    new_y = f"""CASE WHEN {ry1} THEN y
      WHEN {rx1} THEN {n1} - x
      ELSE x END"""
    return new_x, new_y, d_inc


def _hilbert_ctes(base: str) -> str:
    """CTE chain h0..h{HBITS} computing the Hilbert index d of the
    bucketed (x, y) in ``base`` (which must expose o_orderkey, bx, by,
    x, y)."""
    n1 = (1 << HBITS) - 1
    parts = [f"h0 AS (SELECT o_orderkey, bx, by, x, y, 0 AS d FROM {base})"]
    for lvl in range(HBITS):
        s = 1 << (HBITS - 1 - lvl)
        nx, ny, dinc = _hilbert_level_exprs(s, n1)
        parts.append(f"""
    h{lvl + 1} AS (
      SELECT o_orderkey, bx, by,
             {nx} AS x,
             {ny} AS y,
             d + {dinc} AS d
      FROM h{lvl}
    )""")
    return ",\n    ".join(parts)


def hilbert_xy2d(x: int, y: int, bits: int = HBITS) -> int:
    """Pure-Python reference xy2d (test helper)."""
    n1 = (1 << bits) - 1
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n1 - x, n1 - y
            x, y = y, x
        s //= 2
    return d


@register(
    "hilbert_clustering",
    f"""
    WITH b AS (
      SELECT o_orderkey,
             o_custkey % 256 AS bx,
             datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS by,
             o_custkey % 256 AS x,
             datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS y
      FROM orders
    ),
    {_hilbert_ctes('b')}
    SELECT CAST(d >> 6 AS BIGINT) AS hrange,
           COUNT(*) AS n_rows,
           MIN(bx) AS min_x, MAX(bx) AS max_x,
           MIN(by) AS min_y, MAX(by) AS max_y
    FROM h{HBITS} GROUP BY 1
    """,
)
def hilbert_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over the same two bucketed columns as zorder_clustering, with per-bucket min/max pruning extents."""
    n1 = (1 << HBITS) - 1
    o = load_tables(spark, sf_dir)["orders"]
    cur = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("bx"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256).alias(
            "by"
        ),
    ).select(
        "o_orderkey",
        "bx",
        "by",
        F.col("bx").alias("x"),
        F.col("by").alias("y"),
        F.lit(0).alias("d"),
    )
    for lvl in range(HBITS):
        s = 1 << (HBITS - 1 - lvl)
        nx, ny, dinc = _hilbert_level_exprs(s, n1)
        cur = cur.select(
            "o_orderkey",
            "bx",
            "by",
            F.expr(nx).alias("x"),
            F.expr(ny).alias("y"),
            F.expr(f"d + {dinc}").alias("d"),
        )
    return cur.groupBy(
        F.shiftright(F.col("d"), 6).cast("long").alias("hrange")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("bx").alias("min_x"),
        F.max("bx").alias("max_x"),
        F.min("by").alias("min_y"),
        F.max("by").alias("max_y"),
    )
