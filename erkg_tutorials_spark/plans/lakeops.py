"""Lakehouse table-maintenance operators as first-class registry
queries: the ingest-side primitives a 100 TB deployment runs daily.

- ``cdc_apply_changes``: apply an ordered change-data-capture stream
  (insert/update/delete per key, sequence-numbered) to produce the
  current snapshot — the core of Delta/Iceberg MERGE-based CDC sinks.
  One window argmax per key; no join against a base table is needed
  because the latest change row carries the full payload (Debezium
  "after" image semantics).
- ``zone_map_stats``: per-block min/max/count statistics over a fact
  table — the data-skipping index every columnar format maintains
  (parquet row-group stats, Delta file stats, ORC stripe footers) —
  plus the prunability verdict for a concrete predicate, i.e. exactly
  what a scan planner computes when it skips blocks.
- ``sample_bottom_k``: deterministic distributed uniform sampling by
  hash order (bottom-k / KMV sampling). ORDER BY hash LIMIT k compiles
  to TakeOrderedAndProject — per-partition top-k heaps merged on one
  reducer, so the full table is never shuffled; the hash makes the
  sample reproducible across engines, runs, and partitionings, which
  `TABLESAMPLE`/`rand()` sampling is not.

All arithmetic is exact (integer cents, integer keys, md5 ordering) —
no cross-engine float-order risk anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import money_cents, sql_money_cents
from erkg_tutorials_spark.plans.registry import register


# ---------------------------------------------------------------------------
# CDC apply. The change stream is synthesized deterministically from
# orders (k = key%3 + 1 versions per key; the last version is a DELETE
# for keys ≡ 0 mod 5), so both engines derive the identical input. The
# apply itself is the general algorithm: latest sequence number per
# key wins, a terminal delete erases the key. At scale this is one
# shuffle on the key — and because only the ARGMAX row survives, the
# shuffle can carry pre-reduced per-partition maxima (Spark's
# max_by/window partial aggregation does this automatically).
# ---------------------------------------------------------------------------
@register(
    "cdc_apply_changes",
    f"""
    WITH changes AS (
      SELECT o_orderkey AS key,
             CAST(s.seq AS BIGINT) AS seq,
             CASE
               WHEN s.seq = o_orderkey % 3
                    AND o_orderkey % 5 = 0 THEN 'D'
               WHEN s.seq = 0 THEN 'I'
               ELSE 'U'
             END AS op,
             {sql_money_cents('o_totalprice')} + s.seq * 7 AS price_cents,
             o_orderstatus AS status
      FROM orders, UNNEST(generate_series(0, o_orderkey % 3)) AS s(seq)
    ),
    latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      FROM changes
    )
    SELECT key, op AS last_op, price_cents, status,
           CAST(seq + 1 AS BIGINT) AS n_versions
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current snapshot after applying the synthetic CDC stream."""
    o = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey") % 3
    changes = (
        o.select(
            F.col("o_orderkey").alias("key"),
            F.explode(F.sequence(F.lit(0), k.cast("int"))).alias("seq"),
            k.alias("kmax"),
            money_cents(F.col("o_totalprice")).alias("base_cents"),
            F.col("o_orderstatus").alias("status"),
        )
        .select(
            "key",
            F.col("seq").cast("long").alias("seq"),
            F.when(
                (F.col("seq") == F.col("kmax")) & (F.col("key") % 5 == 0), "D"
            )
            .when(F.col("seq") == 0, "I")
            .otherwise("U")
            .alias("op"),
            (F.col("base_cents") + F.col("seq") * 7).alias("price_cents"),
            "status",
        )
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.col("op").alias("last_op"),
            "price_cents",
            "status",
            (F.col("seq") + 1).alias("n_versions"),
        )
    )


# ---------------------------------------------------------------------------
# Zone maps. Blocks are fixed key ranges (zone = l_orderkey div 4096 —
# the layout a write-sorted-by-orderkey table produces), stats are the
# parquet/Delta per-file set: row count, key min/max, value min/max,
# distinct parts. ``prunable`` answers "could a scan with
# l_quantity >= 45 skip this whole block?" — max < threshold ⇒ yes.
# One groupBy over the fact; every stat is an exact min/max/count.
# ---------------------------------------------------------------------------
ZONE_SIZE = 4096
ZONE_PRUNE_QTY = 45


@register(
    "zone_map_stats",
    f"""
    SELECT l_orderkey // {ZONE_SIZE} AS zone,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
           CAST(MIN(l_quantity) AS BIGINT) AS min_qty,
           CAST(MAX(l_quantity) AS BIGINT) AS max_qty,
           MIN({sql_money_cents('l_extendedprice')}) AS min_price_cents,
           MAX({sql_money_cents('l_extendedprice')}) AS max_price_cents,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(MAX(l_quantity) AS BIGINT) < {ZONE_PRUNE_QTY} AS prunable
    FROM lineitem
    GROUP BY 1
    """,
)
def zone_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone data-skipping stats + prunability for qty >= 45."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy(
            F.expr(f"l_orderkey div {ZONE_SIZE}").alias("zone")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
            F.min("l_quantity").cast("long").alias("min_qty"),
            F.max("l_quantity").cast("long").alias("max_qty"),
            F.min(money_cents(F.col("l_extendedprice"))).alias("min_price_cents"),
            F.max(money_cents(F.col("l_extendedprice"))).alias("max_price_cents"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .withColumn("prunable", F.col("max_qty") < ZONE_PRUNE_QTY)
    )


# ---------------------------------------------------------------------------
# Bottom-k hash sampling: the k orders with the smallest
# md5('smp|' || key), then a downstream aggregate over the sample.
# The sample is a true uniform-without-replacement draw (md5 is a
# fixed random permutation of the key space), reproducible everywhere.
# ---------------------------------------------------------------------------
SAMPLE_K = 500


@register(
    "sample_bottom_k",
    f"""
    WITH smp AS (
      SELECT o_orderpriority, {sql_money_cents('o_totalprice')} AS cents
      FROM orders
      ORDER BY md5('smp|' || o_orderkey) ASC, o_orderkey ASC
      LIMIT {SAMPLE_K}
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM smp GROUP BY o_orderpriority
    """,
)
def sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority totals over a deterministic 500-order sample."""
    o = load_tables(spark, sf_dir)["orders"]
    smp = (
        o.select(
            "o_orderpriority",
            money_cents(F.col("o_totalprice")).alias("cents"),
            F.md5(F.concat(F.lit("smp|"), F.col("o_orderkey"))).alias("h"),
            "o_orderkey",
        )
        .orderBy(F.asc("h"), F.asc("o_orderkey"))
        .limit(SAMPLE_K)
    )
    return smp.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sum_cents")
    )


# ---------------------------------------------------------------------------
# Hierarchy rollup. Customers form a synthetic binary tree (parent of
# k is k >> 1, root 1) — the schema-free stand-in for any org chart /
# BOM / account hierarchy. The rollup computes, per ancestor node,
# its subtree size and total account balance.
#
# Spark shape: NOT a recursive join. Bounded-depth hierarchies admit
# the materialized-path formulation — each row emits its ≤21-element
# ancestor chain via integer shifts (an in-codegen transform/filter),
# then ONE groupBy does the rollup. A recursive/iterative join would
# pay depth× shuffles for the same answer; exploding the path costs
# depth× rows but only one exchange, and the rows are two BIGINTs.
# The oracle spells the identical arithmetic with generate_series.
# Balances are exact integer cents; output restricted to the top 6
# levels (node < 64) where the aggregation is meaningful.
# ---------------------------------------------------------------------------
# Chain depth is derived from max(c_custkey) in BOTH engines (floor
# (log2(max)) + 1 shifts always reaches the root), so sf growth can
# never silently truncate ancestor chains the way a fixed constant
# would. Costs one broadcast scalar (Spark) / one scalar CTE (DuckDB).
HIER_TOP_NODES = 64


@register(
    "hierarchy_rollup",
    f"""
    WITH d AS (
      SELECT CAST(floor(log2(MAX(c_custkey))) AS INT) + 1 AS maxd FROM customer
    ),
    paths AS (
      SELECT (c_custkey >> s.i) AS node,
             {sql_money_cents('c_acctbal')} AS cents
      FROM customer, d, UNNEST(generate_series(0, d.maxd)) AS s(i)
      WHERE (c_custkey >> s.i) >= 1
    )
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS subtree_size,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM paths
    WHERE node < {HIER_TOP_NODES}
    GROUP BY node
    """,
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree size + balance for the top of the customer hierarchy."""
    c = load_tables(spark, sf_dir)["customer"]
    depth = c.agg(
        (F.floor(F.log2(F.max("c_custkey"))) + 1).cast("int").alias("maxd")
    )
    paths = c.crossJoin(F.broadcast(depth)).select(
        F.explode(
            F.expr(
                "filter(transform(sequence(0, maxd),"
                " i -> shiftright(c_custkey, i)), x -> x >= 1)"
            )
        ).alias("node"),
        money_cents(F.col("c_acctbal")).alias("cents"),
    )
    return (
        paths.where(F.col("node") < HIER_TOP_NODES)
        .groupBy("node")
        .agg(
            F.count("*").alias("subtree_size"),
            F.sum("cents").alias("subtree_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Table diff (snapshot reconciliation): the validation pass run after
# a migration/backfill — which keys were added, removed, or changed
# between two snapshots, decided by a row-content hash so wide rows
# compare in O(1). Snapshot B is a deterministic mutation of orders
# (keys ≡0 mod 17 dropped, prices of keys ≡0 mod 11 bumped a dollar),
# so both engines derive identical inputs. One full-outer hash join
# on the key; at 100 TB both sides are pre-bucketable by key, and the
# row hash collapses the compare to one column regardless of schema
# width.
# ---------------------------------------------------------------------------
_ROW_HASH = "md5(CAST(price_cents AS VARCHAR) || '|' || status)"


@register(
    "table_diff",
    f"""
    WITH a AS (
      SELECT o_orderkey AS key,
             {sql_money_cents('o_totalprice')} AS price_cents,
             o_orderstatus AS status
      FROM orders
    ),
    b AS (
      SELECT key,
             price_cents + CASE WHEN key % 11 = 0 THEN 100 ELSE 0 END AS price_cents,
             status
      FROM a WHERE key % 17 <> 0
    ),
    ah AS (SELECT key, {_ROW_HASH} AS h FROM a),
    bh AS (SELECT key, {_ROW_HASH} AS h FROM b),
    d AS (
      SELECT COALESCE(ah.key, bh.key) AS key,
             CASE
               WHEN bh.key IS NULL THEN 'removed'
               WHEN ah.key IS NULL THEN 'added'
               WHEN ah.h <> bh.h THEN 'changed'
             END AS change
      FROM ah FULL OUTER JOIN bh ON ah.key = bh.key
    )
    SELECT key, change FROM d WHERE change IS NOT NULL
    """,
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys added/removed/changed between orders and its mutation."""
    o = load_tables(spark, sf_dir)["orders"]
    a = o.select(
        F.col("o_orderkey").alias("key"),
        money_cents(F.col("o_totalprice")).alias("price_cents"),
        F.col("o_orderstatus").alias("status"),
    )
    b = a.where(F.col("key") % 17 != 0).select(
        "key",
        (
            F.col("price_cents")
            + F.when(F.col("key") % 11 == 0, 100).otherwise(0)
        ).alias("price_cents"),
        "status",
    )
    row_hash = F.md5(
        F.concat(F.col("price_cents").cast("string"), F.lit("|"), F.col("status"))
    )
    ah = a.select("key", row_hash.alias("ha"))
    bh = b.select(F.col("key").alias("kb"), row_hash.alias("hb"))
    d = ah.join(bh, ah.key == bh.kb, "full_outer").select(
        F.coalesce(ah.key, F.col("kb")).alias("key"),
        F.when(F.col("kb").isNull(), "removed")
        .when(ah.key.isNull(), "added")
        .when(F.col("ha") != F.col("hb"), "changed")
        .alias("change"),
    )
    return d.where(F.col("change").isNotNull())


# ---------------------------------------------------------------------------
# Data-quality checks: the dbt-test / Deequ-style constraint report —
# every rule is one aggregate over one scan, unioned into a compact
# (rule, n_violations, n_checked, passed) table. Referential
# integrity (orphan lineitems) is the only join and runs as a
# broadcast-friendly anti-join count. No rule ever materializes the
# violating rows — counts only, so the report costs one pass per
# table at any scale.
# ---------------------------------------------------------------------------
@register(
    "dq_checks",
    """
    WITH li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
          AS bad_discount,
        CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
        CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key
      FROM lineitem
    ),
    ords AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price
      FROM orders
    ),
    dup AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_dup,
             CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_all
      FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
    ),
    orphan AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL
    )
    SELECT 'discount_in_range' AS rule, bad_discount AS n_violations, n AS n_checked,
           bad_discount = 0 AS passed FROM li
    UNION ALL
    SELECT 'quantity_positive', bad_qty, n, bad_qty = 0 FROM li
    UNION ALL
    SELECT 'orderkey_not_null', null_key, n, null_key = 0 FROM li
    UNION ALL
    SELECT 'totalprice_positive', bad_price, n, bad_price = 0 FROM ords
    UNION ALL
    SELECT 'lineitem_pk_unique', n_dup, n_all, n_dup = 0 FROM dup
    UNION ALL
    SELECT 'lineitem_fk_orders', n_orphan, (SELECT n FROM li), n_orphan = 0 FROM orphan
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-violation report over lineitem/orders."""
    t = load_tables(spark, sf_dir)
    li, o = t["lineitem"], t["orders"]

    li_agg = li.agg(
        F.count("*").alias("n"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("long")
        ).alias("bad_discount"),
        F.sum((F.col("l_quantity") <= 0).cast("long")).alias("bad_qty"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("null_key"),
    )
    o_agg = o.agg(
        F.count("*").alias("n"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
    )
    dup = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("c"))
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n_dup"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_all"),
        )
    )
    orphan = li.join(
        o.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count("*").alias("n_orphan"))

    def rule(name, viol, checked, src):
        return src.select(
            F.lit(name).alias("rule"),
            F.col(viol).cast("long").alias("n_violations"),
            F.col(checked).cast("long").alias("n_checked"),
            (F.col(viol) == 0).alias("passed"),
        )

    li_n = li_agg.select(F.col("n").alias("li_n"))
    orphan_w = orphan.crossJoin(F.broadcast(li_n))
    return (
        rule("discount_in_range", "bad_discount", "n", li_agg)
        .unionByName(rule("quantity_positive", "bad_qty", "n", li_agg))
        .unionByName(rule("orderkey_not_null", "null_key", "n", li_agg))
        .unionByName(rule("totalprice_positive", "bad_price", "n", o_agg))
        .unionByName(rule("lineitem_pk_unique", "n_dup", "n_all", dup))
        .unionByName(rule("lineitem_fk_orders", "n_orphan", "li_n", orphan_w))
    )


# ---------------------------------------------------------------------------
# One-pass pipeline observability: df.observe() / CollectMetrics.
# Production DQ monitoring at 100 TB cannot afford dq_checks-style
# dedicated scans per metric refresh; observe() piggybacks the metric
# aggregates on the SAME pass that computes the query result (one
# CollectMetrics node above the scan, zero extra jobs). The query
# returns the per-flag rollup rows from the groupBy AND the 'ALL'
# row from the OBSERVATION — so the oracle's GROUP BY ROLLUP hash
# match proves the observed metrics equal the true totals, not just
# that the API ran.
# ---------------------------------------------------------------------------
def _observed_pricing(spark: SparkSession, sf_dir: str):
    """(per-flag aggregate DataFrame with an attached observation,
    the Observation) — split out so plan tests can assert the
    CollectMetrics node sits on the single scan."""
    from pyspark.sql import Observation

    li = load_tables(spark, sf_dir)["lineitem"].where(
        F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date")
    )
    obs = Observation()
    qty = F.sum(F.round("l_quantity", 0).cast("long"))
    cents = F.sum(money_cents(F.col("l_extendedprice"), 100))
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        qty.alias("qty_sum"),
        cents.alias("price_cents"),
    )
    per_flag = observed.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        qty.alias("qty_sum"),
        cents.alias("price_cents"),
    )
    return per_flag, obs


@register(
    "observe_query_metrics",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty_sum,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY ROLLUP(l_returnflag)
    """,
)
def observe_query_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag pricing rollup where the grand-total row comes
    from the observation attached to the same single pass (exact
    integer metrics: row count, integral quantity sum, price cents).
    """
    per_flag, obs = _observed_pricing(spark, sf_dir)
    rows = per_flag.collect()  # the one pass: result rows + metrics
    m = obs.get
    data = [
        (r["l_returnflag"], r["n_rows"], r["qty_sum"], r["price_cents"])
        for r in rows
    ]
    data.append(("ALL", m["n_rows"], m["qty_sum"], m["price_cents"]))
    return spark.createDataFrame(
        data, "flag string, n_rows bigint, qty_sum bigint, price_cents bigint"
    )


def _versioned_root(sf_dir: str, kind: str, evict: bool = False) -> str:
    """Fingerprinted /tmp root for a versioned table derived from the
    orders parquet: one naming convention for every lakeops fixture
    table (timetravel, merge, skipping), so consumers like
    cdf_history_rollup share the producer's path by construction
    instead of re-deriving it. ``evict`` drops stale same-kind roots
    from older testdata generations."""
    import os

    from erkg_tutorials_spark.plans.scale import _evict_stale_layouts

    st = os.stat(os.path.join(sf_dir, "orders.parquet"))
    safe = sf_dir.strip("/").replace("/", "_")
    name = f"{kind}_{safe}_{st.st_size}_{int(st.st_mtime)}"
    if evict:
        _evict_stale_layouts("/tmp/erkg_versioned", f"{kind}_{safe}_", name)
    return f"/tmp/erkg_versioned/{name}"


# ---------------------------------------------------------------------------
# Time travel over a versioned-manifest table (lakehouse/versioned.py
# — the Delta/Iceberg transaction-log pattern reduced to its atomic
# core). The query commits three deterministic versions of an orders
# slice into a fingerprinted /tmp table (v0 overwrite 'F' rows, v1
# append 'O' rows, v2 overwrite URGENT-priority rows), then reads
# every version AS OF its number THROUGH the manifest layer and
# returns per-version exact aggregates. Reading v0's numbers after
# v2 has overwritten the table IS the snapshot-isolation property; a
# resolver that followed "latest" would return v2's rows for every
# version and hash-mismatch. Oracle recomputes each version's
# expected content straight from the orders view.
# ---------------------------------------------------------------------------
@register(
    "timetravel_orders_snapshot",
    """
    WITH v0 AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
    v1 AS (SELECT * FROM orders WHERE o_orderstatus IN ('F', 'O')),
    v2 AS (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM v0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM v2
    """,
)
def timetravel_orders_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated AS-OF reads over a versioned-manifest orders table: per-version exact aggregates after overwrite/append/overwrite commits."""
    from erkg_tutorials_spark.lakehouse.versioned import (
        committed_versions,
        read_version,
        write_version,
    )

    root = _versioned_root(sf_dir, "orders")
    if len(committed_versions(root)) < 3:
        _versioned_root(sf_dir, "orders", evict=True)
        # a PARTIALLY built table (crash between commits) must be
        # rebuilt from scratch, not stacked on: versions 0-2 are what
        # this query and cdf_history_rollup address by number
        if committed_versions(root):
            import shutil

            shutil.rmtree(root, ignore_errors=True)
        orders = load_tables(spark, sf_dir)["orders"]
        write_version(
            orders.where(F.col("o_orderstatus") == "F"), root, "overwrite"
        )
        write_version(
            orders.where(F.col("o_orderstatus") == "O"), root, "append"
        )
        write_version(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            root,
            "overwrite",
        )

    def agg(version: int) -> DataFrame:
        return read_version(spark, root, version).agg(
            F.lit(version).cast("long").alias("version"),
            F.count("*").alias("n_rows"),
            F.sum(money_cents(F.col("o_totalprice"))).cast("bigint").alias(
                "total_cents"
            ),
            F.count_distinct("o_custkey").alias("n_customers"),
        )

    return agg(0).unionByName(agg(1)).unionByName(agg(2))


# ---------------------------------------------------------------------------
# Incremental view maintenance (IVM) over the same synthetic CDC
# stream cdc_apply_changes replays: maintain a per-status rollup
# (count + exact cents total) WITHOUT recomputing from the final
# snapshot — base aggregate of the insert images plus one pass of
# per-change deltas (U: new minus previous image; D: minus the last
# live image; tombstones for never-inserted keys are no-ops). The
# oracle recomputes the rollup FROM the applied snapshot, so any
# error in the delta algebra (the part IVM systems get wrong) is a
# hash mismatch, not a silent drift. At scale this is the
# Materialize/Delta-live pattern: the maintained view costs one
# shuffle over the CHANGE set, never a rescan of the base table.
# ---------------------------------------------------------------------------
@register(
    "ivm_status_rollup",
    f"""
    WITH changes AS (
      SELECT o_orderkey AS key,
             CAST(s.seq AS BIGINT) AS seq,
             CASE
               WHEN s.seq = o_orderkey % 3
                    AND o_orderkey % 5 = 0 THEN 'D'
               WHEN s.seq = 0 THEN 'I'
               ELSE 'U'
             END AS op,
             {sql_money_cents('o_totalprice')} + s.seq * 7 AS price_cents,
             o_orderstatus AS status
      FROM orders, UNNEST(generate_series(0, o_orderkey % 3)) AS s(seq)
    ),
    latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      FROM changes
    ),
    snapshot AS (
      SELECT key, price_cents, status FROM latest WHERE rn = 1 AND op <> 'D'
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents
    FROM snapshot GROUP BY status
    """,
)
def ivm_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained per-status rollup: base insert-image aggregate plus per-change deltas, equal to the snapshot recompute by construction."""
    o = load_tables(spark, sf_dir)["orders"]
    k = F.col("o_orderkey") % 3
    changes = o.select(
        F.col("o_orderkey").alias("key"),
        F.explode(F.sequence(F.lit(0), k.cast("int"))).alias("seq"),
        k.alias("kmax"),
        money_cents(F.col("o_totalprice")).alias("base_cents"),
        F.col("o_orderstatus").alias("status"),
    ).select(
        "key",
        F.col("seq").cast("long").alias("seq"),
        "kmax",
        F.when((F.col("seq") == F.col("kmax")) & (F.col("key") % 5 == 0), "D")
        .when(F.col("seq") == 0, "I")
        .otherwise("U")
        .alias("op"),
        (F.col("base_cents") + F.col("seq") * 7).alias("price_cents"),
        "status",
    )
    # previous live image per key (lag in sequence order) — the value
    # a U replaces and a D removes
    w = Window.partitionBy("key").orderBy("seq")
    d = changes.withColumn("prev_cents", F.lag("price_cents").over(w))
    delta = d.select(
        "status",
        F.when(F.col("op") == "I", F.lit(1))
        .when(F.col("op") == "D", F.when(F.col("prev_cents").isNotNull(), -1).otherwise(0))
        .otherwise(0)
        .cast("long")
        .alias("d_count"),
        F.when(F.col("op") == "I", F.col("price_cents"))
        .when(F.col("op") == "U", F.col("price_cents") - F.col("prev_cents"))
        .when(F.col("op") == "D", -F.coalesce("prev_cents", F.lit(0)))
        .cast("long")
        .alias("d_cents"),
    )
    return (
        delta.groupBy("status")
        .agg(
            F.sum("d_count").alias("n_orders"),
            F.sum("d_cents").alias("total_cents"),
        )
        .where(F.col("n_orders") > 0)
    )


# ---------------------------------------------------------------------------
# MERGE INTO over the versioned-manifest table (lakehouse/versioned.py
# merge_into) — the Delta copy-on-write MERGE reduced to its engine
# core. The table commits v0 = full orders, range-partitioned into 8
# files by o_orderkey; the merge batch is derived deterministically
# from the FIRST KEY DECILE (bound = max(o_orderkey) // 10, one
# bounded driver scalar like the landmark/pattern-length precedents):
#   * matched, key % 7 = 0, key % 3 = 0  -> DELETE
#   * matched, key % 7 = 0, key % 3 <> 0 -> UPDATE (o_totalprice
#     doubled — exact IEEE op, so the cents oracle stays exact)
#   * unmatched synthetic rows (key = -key, status 'N', key % 11 = 0)
#     -> INSERT
# Confining the batch to one key decile makes the file-pruned rewrite
# REAL in this query, not just in unit tests: only the range files
# holding the first decile are rewritten, the other ~7/8 of the table
# is carried into the child manifest by reference (the manifest's
# `replaced` field + tests/test_versioned_merge.py pin this). The
# oracle recomputes the merged snapshot straight from the orders view
# with the same modular arithmetic.
# ---------------------------------------------------------------------------
def _merged_orders_root(spark: SparkSession, sf_dir: str) -> str:
    """Build (idempotently) the two-version merged orders table and
    return its root. v0 = full orders; v1 = MERGE result."""
    from erkg_tutorials_spark.lakehouse.versioned import (
        committed_versions,
        merge_into,
        write_version,
    )

    root = _versioned_root(sf_dir, "merge_orders")
    versions = committed_versions(root)
    orders = None
    if not versions:
        _versioned_root(sf_dir, "merge_orders", evict=True)
        orders = load_tables(spark, sf_dir)["orders"]
        write_version(
            orders.repartitionByRange(8, "o_orderkey"), root, "overwrite"
        )
        versions = [0]
    if len(versions) == 1:
        if orders is None:
            orders = load_tables(spark, sf_dir)["orders"]
        bound = orders.agg(F.max("o_orderkey")).collect()[0][0] // 10
        decile = orders.where(F.col("o_orderkey") <= F.lit(bound))
        updates = decile.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        inserts = (
            decile.where((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") > 0))
            .withColumn("o_orderkey", -F.col("o_orderkey"))
            .withColumn("o_orderstatus", F.lit("N"))
        )
        merge_into(
            spark,
            root,
            updates.unionByName(inserts),
            on="o_orderkey",
            when_matched_delete="o_orderkey % 3 = 0",
        )
    return root


_MERGE_BOUND_SQL = "(SELECT MAX(o_orderkey) // 10 FROM orders)"


@register(
    "merge_upsert_orders",
    f"""
    WITH merged AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey <= {_MERGE_BOUND_SQL}
                       AND o_orderkey % 7 = 0
                  THEN {sql_money_cents('o_totalprice * 2')}
                  ELSE {sql_money_cents('o_totalprice')} END AS cents
      FROM orders
      WHERE NOT (o_orderkey <= {_MERGE_BOUND_SQL}
                 AND o_orderkey % 7 = 0 AND o_orderkey % 3 = 0)
      UNION ALL
      SELECT 'N' AS o_orderstatus, {sql_money_cents('o_totalprice')} AS cents
      FROM orders
      WHERE o_orderkey <= {_MERGE_BOUND_SQL} AND o_orderkey % 11 = 0
        AND o_orderkey > 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status exact aggregates of the snapshot produced by a file-pruned MERGE INTO (update/delete/insert arms) on the versioned orders table."""
    from erkg_tutorials_spark.lakehouse.versioned import read_version

    root = _merged_orders_root(spark, sf_dir)
    return (
        read_version(spark, root)  # latest = the merge commit
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(money_cents(F.col("o_totalprice"))).cast("bigint").alias(
                "total_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Change data feed between the two versions of the merged table —
# Delta CDF semantics (insert / delete / update_preimage /
# update_postimage, updates emit BOTH images) computed from the
# snapshots by table_changes(). The feed must reconcile EXACTLY with
# the merge arms above: the oracle recomputes each change class's
# count and cents directly from the orders view, so a drift in either
# the merge or the diff algebra is a hash mismatch here.
# ---------------------------------------------------------------------------
@register(
    "cdf_orders_merge",
    f"""
    WITH upd AS (
      SELECT * FROM orders
      WHERE o_orderkey <= {_MERGE_BOUND_SQL} AND o_orderkey % 7 = 0
    )
    SELECT 'delete' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({sql_money_cents('o_totalprice')}) AS BIGINT) AS total_cents
    FROM upd WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'update_preimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM({sql_money_cents('o_totalprice')}) AS BIGINT)
    FROM upd WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 'update_postimage', CAST(COUNT(*) AS BIGINT),
           CAST(SUM({sql_money_cents('o_totalprice * 2')}) AS BIGINT)
    FROM upd WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 'insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM({sql_money_cents('o_totalprice')}) AS BIGINT)
    FROM orders
    WHERE o_orderkey <= {_MERGE_BOUND_SQL} AND o_orderkey % 11 = 0
      AND o_orderkey > 0
    """,
)
def cdf_orders_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed rollup (count + exact cents per change type) between the pre-merge and post-merge versions of the orders table."""
    from erkg_tutorials_spark.lakehouse.versioned import table_changes

    root = _merged_orders_root(spark, sf_dir)
    feed = table_changes(spark, root, 0, 1, on="o_orderkey")
    return (
        feed.groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(money_cents(F.col("o_totalprice"))).cast("bigint").alias(
                "total_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Manifest-level data skipping: the versioned table's commit path
# records per-file min/max zone maps (parquet footer stats, a
# driver-side metadata read) in the manifest; read_version_pruned
# drops every file whose committed range cannot intersect the query
# interval BEFORE Spark lists or opens anything — Delta/Iceberg file
# skipping through the transaction log, layered ON TOP of parquet
# row-group pruning (the residual filter still pushes down). The
# table is range-clustered into 16 files by o_orderkey, the query
# asks for the [max/4, max/2] key band, so ~3/4 of the files never
# appear in the scan (tests/test_versioned_merge.py pins the skip
# count and the pruned==filtered equivalence; at 100 TB this is the
# difference between opening ~250k files and ~60k).
# ---------------------------------------------------------------------------
@register(
    "versioned_skipping_read",
    """
    WITH b AS (SELECT MAX(o_orderkey) AS mx FROM orders)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({cents}) AS BIGINT) AS total_cents
    FROM orders, b
    WHERE o_orderkey >= b.mx // 4 AND o_orderkey <= b.mx // 2
    GROUP BY o_orderstatus
    """.replace("{cents}", sql_money_cents("o_totalprice")),
)
def versioned_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file skipping through the commit log: per-status aggregates over a key band read via read_version_pruned (~3/4 of files never scanned)."""
    from erkg_tutorials_spark.lakehouse.versioned import (
        committed_versions,
        read_version_pruned,
        write_version,
    )

    root = _versioned_root(sf_dir, "skip_orders")
    orders = load_tables(spark, sf_dir)["orders"]
    if not committed_versions(root):
        _versioned_root(sf_dir, "skip_orders", evict=True)
        write_version(
            orders.repartitionByRange(16, "o_orderkey"), root, "overwrite"
        )
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    pruned, _report = read_version_pruned(
        spark, root, {"o_orderkey": (mx // 4, mx // 2)}
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(money_cents(F.col("o_totalprice"))).cast("bigint").alias(
            "total_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Change-data-feed HISTORY: table_changes between every consecutive
# version pair of the 3-commit time-travel table (v0 = 'F' rows
# overwrite, v1 = +'O' rows append, v2 = URGENT-only overwrite — the
# exact table timetravel_orders_snapshot builds), unioned with the
# destination version tagged. This is Delta's
# table_changes(startingVersion=0) read shape: the v0->v1 hop is a
# pure insert feed (append), the v1->v2 hop mixes inserts, deletes,
# and updates (overwrite to a different predicate; rows in both
# snapshots with identical payloads emit nothing). The oracle
# recomputes both hops from the orders view with set algebra, so the
# diff semantics across APPEND and OVERWRITE transitions are pinned,
# not just the single merge hop cdf_orders_merge covers.
# ---------------------------------------------------------------------------
@register(
    "cdf_history_rollup",
    f"""
    WITH v0 AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
    v1 AS (SELECT * FROM orders WHERE o_orderstatus IN ('F', 'O')),
    v2 AS (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'),
    hop1 AS (
      SELECT 1 AS to_version, 'insert' AS change_type,
             {sql_money_cents('o_totalprice')} AS cents
      FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v0)
    ),
    hop2_ins AS (
      SELECT 2, 'insert', {sql_money_cents('o_totalprice')}
      FROM v2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1)
    ),
    hop2_del AS (
      SELECT 2, 'delete', {sql_money_cents('o_totalprice')}
      FROM v1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v2)
    ),
    feed AS (
      SELECT * FROM hop1 UNION ALL
      SELECT * FROM hop2_ins UNION ALL
      SELECT * FROM hop2_del
    )
    SELECT to_version, change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM feed GROUP BY to_version, change_type
    """,
)
def cdf_history_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full change-feed history over the 3-version time-travel table: per-(version, change-type) counts and exact cents across append AND overwrite hops."""
    from erkg_tutorials_spark.lakehouse.versioned import table_changes

    # build (idempotently) the same table timetravel_orders_snapshot
    # uses, then address it through the SHARED root helper — no
    # re-derived path to drift out of sync with the producer
    timetravel_orders_snapshot(spark, sf_dir)
    root = _versioned_root(sf_dir, "orders")
    feed = None
    for v in (1, 2):
        hop = table_changes(spark, root, v - 1, v, on="o_orderkey").select(
            F.col("_to_version").alias("to_version"),
            F.col("_change_type").alias("change_type"),
            money_cents(F.col("o_totalprice")).alias("cents"),
        )
        feed = hop if feed is None else feed.unionByName(hop)
    return feed.groupBy("to_version", "change_type").agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Conditional MERGE (Delta's WHEN MATCHED AND <cond> THEN UPDATE),
# r8: the monotone-upsert path the streaming CDC sink relies on, as a
# batch registry query under the full hash oracle. The events table is
# split by event_id parity: v0 = per-user argmax state over EVEN
# events; the merge source = per-user argmax over ODD events, applied
# with the monotone condition (only overwrite when the source image is
# at least as new). Many odd-side argmaxes are OLDER than the even-side
# state, so the condition genuinely rejects rows — and the merged
# snapshot equals the GLOBAL per-user argmax over all events iff the
# conditional arm is correct. The oracle computes that global argmax
# directly; any drift (a stale overwrite, a lost reject, a missed
# insert) is a row-level hash mismatch.
# ---------------------------------------------------------------------------
def _cond_merge_root(spark: SparkSession, sf_dir: str) -> str:
    import os

    from pyspark.sql import Window as _W

    from erkg_tutorials_spark.lakehouse.versioned import (
        committed_versions,
        merge_into,
        write_version,
    )
    from erkg_tutorials_spark.plans.scale import _evict_stale_layouts

    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    safe = sf_dir.strip("/").replace("/", "_")
    name = f"condmerge_{safe}_{st.st_size}_{int(st.st_mtime)}"
    _evict_stale_layouts("/tmp/erkg_versioned", f"condmerge_{safe}_", name)
    root = f"/tmp/erkg_versioned/{name}"
    versions = committed_versions(root)
    if len(versions) >= 2:
        return root

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_type",
        "ts_sec",
        "event_id",
        money_cents(F.col("value")).alias("cents"),
    )
    w = _W.partitionBy("user_id").orderBy(
        F.desc("ts_sec"), F.desc("event_id")
    )

    def argmax_state(parity: int):
        return (
            ev.where(F.col("event_id") % 2 == parity)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )

    if not versions:
        write_version(
            argmax_state(0).repartition(4, "user_id"), root, "overwrite"
        )
    merge_into(
        spark,
        root,
        argmax_state(1),
        on="user_id",
        when_matched_update=(
            "source.ts_sec > target.ts_sec OR "
            "(source.ts_sec = target.ts_sec AND "
            "source.event_id >= target.event_id)"
        ),
    )
    return root


@register(
    "merge_conditional_upsert",
    """
    WITH ranked AS (
      SELECT user_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_sec,
             event_id,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT) DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, event_type, ts_sec, event_id, cents
    FROM ranked WHERE rn = 1
    """,
)
def merge_conditional_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone conditional MERGE (WHEN MATCHED AND newer THEN UPDATE): even/odd event split merged into the exact global per-user argmax state."""
    from erkg_tutorials_spark.lakehouse.versioned import read_version

    root = _cond_merge_root(spark, sf_dir)
    return read_version(spark, root).select(
        "user_id", "event_type", "ts_sec", "event_id", "cents"
    )
