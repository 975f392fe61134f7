"""HITS (hubs & authorities, Kleinberg 1999) as DataFrame iteration.

Alongside PageRank (graph/pagerank.py) this completes the classic
link-analysis pair. On the directed customer→supplier trade graph the
two sides are bipartite: customers only accumulate hub mass, suppliers
only authority mass — which makes the un-normalized iteration EXACT:

* scores start at the integer 1 and every update is a plain SUM of
  neighbor scores, so all intermediate values stay integers;
* both engines therefore compute identical BIGINTs — no float
  summation-order ulp risk anywhere in the loop (stronger than the
  PageRank oracle's round-absorbs-ulp argument);
* magnitudes grow by ≤ (max_hub_deg · max_auth_deg) per double-round.
  With the default 3 double-rounds that bound stays far inside int64
  for any realistic degree profile (e.g. 10⁴·10⁴ per round → 10²⁴
  would overflow, but degree products that large mean a near-complete
  bipartite graph; the sf1 trade graph is ~10⁵·10³ per round → 10²⁴?
  no: (30·8000)³ ≈ 1.4e16 ≪ 9.2e18). The registered oracle
  hash-gates the no-overflow assumption at every tested SF.

Normalization happens ONCE at the end (divide by the side's max,
round 6) — a deterministic scalar division that both engines replay.

Scale shape: per half-iteration one broadcast-or-shuffle join keyed by
the edge endpoint + one groupBy — identical to the PageRank loop, and
like it the loop tables are localCheckpoint-ed to keep lineage flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Run `iters` double-rounds of un-normalized HITS.

    ``edges(src, dst)`` directed. Returns one row per vertex-side:
    ``(side, id, score)`` where side ∈ {'hub', 'authority'}, score is
    the raw integer mass (callers normalize/round for display).

    The loop runs inside the tuned cloned-session window
    (graph/loop_confs.py, same rationale + concurrency-safety as
    pagerank): AQE re-planning per half-round is pure overhead on
    known shrinking shapes. Only the full-round hub table is
    checkpointed — the authority table of the FINAL round is
    checkpointed too since it feeds the result; intermediate authority
    tables stay lazy inside their round's plan (halves the per-round
    job count vs checkpointing both)."""
    from erkg_tutorials_spark.graph.loop_confs import tuned_loop_session

    spark = edges.sparkSession
    e0 = edges.select("src", "dst").localCheckpoint(eager=True)
    with tuned_loop_session(spark, e0.count()) as (_loop, rebind):
        from erkg_tutorials_spark.graph.ckpt import CheckpointChain

        chain = CheckpointChain()
        e = rebind(e0)
        h = (
            e.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("h", F.lit(1).cast("long"))
        )
        a = None
        for i in range(iters):
            a = (
                e.join(h, e.src == h.id)
                .groupBy(e.dst.alias("aid"))
                .agg(F.sum("h").alias("a"))
                .select(F.col("aid").alias("id"), "a")
            )
            if i == iters - 1:
                # final authority table: checkpointed OUTSIDE the hub
                # chain (it backs the result; the chain must never
                # free it when the final h lands)
                a = a.localCheckpoint(eager=True)
            h = chain(
                e.join(a, e.dst == a.id)
                .groupBy(e.src.alias("hid"))
                .agg(F.sum("a").alias("h"))
                .select(F.col("hid").alias("id"), "h")
            )
    hubs = h.select(F.lit("hub").alias("side"), "id", F.col("h").alias("score"))
    auths = a.select(
        F.lit("authority").alias("side"), "id", F.col("a").alias("score")
    )
    return hubs.unionByName(auths)


def hits_iterations_sql(*, iters: int) -> str:
    """DuckDB CTE chain replaying :func:`hits` over a pre-existing
    ``fedges(src, dst)`` CTE. Final CTEs: ``h{iters}(id, h)`` and
    ``a{iters}(id, a)`` — exact BIGINT masses."""
    parts = [
        """
    h0 AS MATERIALIZED (
      SELECT DISTINCT src AS id, CAST(1 AS BIGINT) AS h FROM fedges
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    a{i} AS MATERIALIZED (
      SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS a
      FROM fedges e JOIN h{i - 1} h ON h.id = e.src GROUP BY 1
    ),
    h{i} AS MATERIALIZED (
      SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS h
      FROM fedges e JOIN a{i} a ON a.id = e.dst GROUP BY 1
    )""")
    return ",".join(parts)
