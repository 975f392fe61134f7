"""E1 — the Senzing pipeline lifecycle as ONE lazy oracle-gated plan
(r7 VERDICT item 1, the r6→r7 treatment E3 got in plans/linkingq.py).

Reference pipeline (``/root/reference/src/senzing_pipeline.py:400-421``,
SURVEY §3 E1): load report → ``filter_senzing`` (exact-name seed match
+ friends-of-friends 2-hop) → id-set semi-filters on entities and
aliases → ``generate_entities`` (blocklist, country dim lookup,
description synthesis, type inference) → ``generate_aliases``
(per-alias probability distributions).

This registry query composes the SAME chain over the TPC-H tables so
the whole pipeline runs under the DuckDB value-hash oracle — each
stage is an already-oracled operator, chained lazily with no
intermediate action:

1. **J2 seeds** — the ``j2_seed_match`` seed rule (every 37th
   customer) stringified to graph vertex ids.
2. **G2/G3 reach** — 2-hop friends-of-friends over the symmetric
   customer↔supplier trade graph (``g3_two_hop_reach``'s edges, via
   the session-memoized distinct edge table).
3. **F4 semi + F5 anti** — customers restricted to the reached id set
   (the reference's ``ids``-filter at :414), then the bearer-style
   anti-filter (no 1-URGENT order — ``f5_anti_filter``) and the F1
   regex blocklist on the name text.
4. **J1 + C7 + C8** — broadcast nation lookup, clause-ordered
   description synthesis (``c7_description_synthesis`` shape) and
   chained type inference (``c8_type_inference`` shape).
5. **A1/W2 distributions** — (segment → nation) probability
   distribution over the SURVIVING customers, joined back onto each
   entity row so the hash covers the normalized probabilities too.

One output row per surviving entity: (entity_id, entity_type,
description, alias, prob). A drift anywhere in the chain — a wrong
hop, a filter off by one row, a clause out of order, a probability
normalized over the wrong denominator — changes the value hash.

Scale notes (100 TB): the seed and reach joins shuffle on vertex-id
strings (the edge table is the session-memoized distinct
customer↔supplier set, built once); the semi/anti filters are
key-joins Catalyst plans as broadcast or shuffled-hash by size; the
nation dim broadcasts; the A1 window partitions by segment (25
nations × 5 segments — tiny state). No stage collects; the composed
plan is a single DAG so Spark reuses the filtered-customer scan
across the entity and distribution branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.graph.khop import k_hop
from erkg_tutorials_spark.plans.graphq import seed_customers, trade_edges_sym
from erkg_tutorials_spark.plans.registry import register

E1_BLOCKLIST = "(13)|(42$)|(007)"  # F1 shape: OR-ed regex blocklist on the name

_E1_ORACLE = f"""
    WITH seeds AS (
      SELECT 'c:' || c_custkey AS id FROM customer WHERE c_custkey % 37 = 0
    ),
    raw AS MATERIALIZED (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM raw
      UNION ALL
      SELECT s AS src, c AS dst FROM raw
    ),
    hop1 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN seeds ON e.src = seeds.id
    ),
    r01 AS (SELECT id FROM seeds UNION SELECT id FROM hop1),
    hop2 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN r01 ON e.src = r01.id
    ),
    reach AS (
      SELECT DISTINCT id FROM (
        SELECT id FROM seeds UNION ALL SELECT id FROM hop1
        UNION ALL SELECT id FROM hop2
      ) u
    ),
    kept AS MATERIALIZED (
      SELECT c.* FROM customer c
      JOIN reach ON 'c:' || c.c_custkey = reach.id
      WHERE NOT regexp_matches(c_name, '{E1_BLOCKLIST}')
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
    ),
    ent AS (
      SELECT c_custkey, c_mktsegment, c_nationkey,
             CASE WHEN c_acctbal < 0 THEN 'DELINQUENT'
                  WHEN c_mktsegment = 'BUILDING' THEN 'ORG'
                  WHEN c_name LIKE '%7%' THEN 'CONTACTABLE'
                  ELSE 'MISC' END AS entity_type,
             concat(
               c_name, ', segment ', c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN ', in debt' ELSE '' END,
               CASE WHEN n_name IS NOT NULL
                    THEN concat(', located in ', n_name) ELSE '' END,
               CASE WHEN c_acctbal >= 5000 THEN ', premier' ELSE '' END
             ) AS description
      FROM kept LEFT JOIN nation ON c_nationkey = n_nationkey
    ),
    dist AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
      FROM kept GROUP BY 1, 2
    ),
    probs AS (
      SELECT c_mktsegment, c_nationkey,
             ROUND(cnt / (1.0 * SUM(cnt) OVER (PARTITION BY c_mktsegment)), 6) AS prob
      FROM dist
    )
    SELECT ent.c_custkey AS entity_id, ent.entity_type, ent.description,
           ent.c_mktsegment AS alias, probs.prob
    FROM ent JOIN probs
      ON ent.c_mktsegment = probs.c_mktsegment
     AND ent.c_nationkey = probs.c_nationkey
    """


@register("e1_senzing_lifecycle", _E1_ORACLE)
def e1_senzing_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed E1: seed match → 2-hop reach → semi/anti filters →
    description/type synthesis → alias distributions, one lazy DAG."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]

    # J2 seeds + G2/G3 reach over the memoized symmetric trade graph
    reach = k_hop(trade_edges_sym(spark, sf_dir), seed_customers(t), k=2)

    # F4 semi-filter to the reached id set (senzing_pipeline.py:414)
    kept = c.join(
        reach, F.concat(F.lit("c:"), F.col("c_custkey")) == reach["id"], "left_semi"
    )
    # F1 regex blocklist on the name text (filter_bearer shape)
    kept = kept.where(~F.col("c_name").rlike(E1_BLOCKLIST))
    # F5 anti-filter: drop customers with any 1-URGENT order
    urgent = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    kept = kept.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")

    # J1 dim lookup + C7 description + C8 type inference
    ent = (
        kept.join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"), "left"
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            "c_nationkey",
            F.when(F.col("c_acctbal") < 0, "DELINQUENT")
            .when(F.col("c_mktsegment") == "BUILDING", "ORG")
            .when(F.col("c_name").like("%7%"), "CONTACTABLE")
            .otherwise("MISC")
            .alias("entity_type"),
            F.concat(
                F.col("c_name"),
                F.lit(", segment "),
                F.col("c_mktsegment"),
                F.when(F.col("c_acctbal") < 0, F.lit(", in debt")).otherwise(F.lit("")),
                F.when(
                    F.col("n_name").isNotNull(),
                    F.concat(F.lit(", located in "), F.col("n_name")),
                ).otherwise(F.lit("")),
                F.when(F.col("c_acctbal") >= 5000, F.lit(", premier")).otherwise(
                    F.lit("")
                ),
            ).alias("description"),
        )
    )

    # A1/W2: (segment → nation) probability distribution over the
    # surviving set, joined back per entity so the hash covers it
    dist = kept.groupBy("c_mktsegment", "c_nationkey").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("c_mktsegment")
    probs = dist.select(
        "c_mktsegment",
        "c_nationkey",
        F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("prob"),
    )
    return ent.join(probs, ["c_mktsegment", "c_nationkey"]).select(
        F.col("c_custkey").alias("entity_id"),
        "entity_type",
        "description",
        F.col("c_mktsegment").alias("alias"),
        "prob",
    )
