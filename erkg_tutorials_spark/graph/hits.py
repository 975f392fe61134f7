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
* magnitudes grow by ≤ (max_hub_deg · max_auth_deg) per double-round,
  so the default 3 double-rounds stay far inside int64 for any
  realistic degree profile: e.g. (30·8000)³ ≈ 1.4e16 ≪ 9.2e18. The
  registered oracle hash-gates the no-overflow assumption at every
  tested SF.

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

    The rounds run under ``loop_confs.iterate``. Only the full-round
    hub table is state; the authority table of the FINAL round is
    checkpointed too since it feeds the result, while intermediate
    authority tables stay lazy inside their round's plan (halves the
    per-round job count vs checkpointing both)."""
    from erkg_tutorials_spark.graph.loop_confs import iterate

    e0 = edges.select("src", "dst").localCheckpoint(eager=True)
    h0 = (
        e0.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("h", F.lit(1).cast("long"))
    )
    a = None

    def step(i, h, e):
        nonlocal a
        a = (
            e.join(h, e.src == h.id)
            .groupBy(e.dst.alias("aid"))
            .agg(F.sum("h").alias("a"))
            .select(F.col("aid").alias("id"), "a")
        )
        if i == iters - 1:
            # final authority table: checkpointed outside the hub
            # state (it backs the result)
            a = a.localCheckpoint(eager=True)
        yield (
            e.join(a, e.dst == a.id)
            .groupBy(e.src.alias("hid"))
            .agg(F.sum("a").alias("h"))
            .select(F.col("hid").alias("id"), "h")
        )

    (h,), _ = iterate(
        step, (h0,), (e0,), rounds=iters, size=e0.count(), owned=(e0,)
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
