"""k-core decomposition: iterative degree peel, pure DataFrame ops.

The k-core of a graph is the maximal subgraph in which every vertex
has degree ≥ k. The distributed algorithm is the textbook peel: drop
vertices with degree < k, restrict the edge set to survivors, repeat
until stable. Each round is one groupBy (degree count) + two
semi-joins — all shuffles keyed on vertex id, so the round cost is
O(|E|/p) per executor with no all-pairs work anywhere.

Scale notes (100 TB):
- The peel's working set only ever SHRINKS — unlike PageRank/CC there
  is no state growth, so the dominant cost is the first round over
  the full edge set; later rounds ride on a fraction of it.
- Round count is bounded by the peel depth of the degree
  distribution, not |V|; hub-and-spoke graphs (like this bipartite
  trade graph) converge in 2-3 rounds. ``max_rounds`` is a loud
  guard, not a tuning knob: non-convergence raises rather than
  returning a wrong subgraph (same contract as
  connected_components.py).
- ``localCheckpoint`` truncates lineage per round so the plan tree
  stays flat for arbitrarily deep peels.

Semantics cross-checked against the NetworkX ``k_core`` definition
(Batagelj & Zaveršnik's peel); the registry oracle replays the same
fixed-round peel as an unrolled CTE chain, so convergence-within-R is
itself under the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_core(edges_sym: DataFrame, k: int, max_rounds: int = 6) -> DataFrame:
    """Vertices of the k-core with their in-core degree.

    ``edges_sym`` must be the symmetric (mirrored) edge set with
    columns ``src, dst``; degree of a vertex is then its out-degree.
    Returns ``(id, deg)`` for every vertex of the k-core.

    Raises if the peel has not reached a fixpoint within
    ``max_rounds`` — a silent non-converged answer would be wrong, not
    approximate (vertices kept that a further round would drop).
    """
    from erkg_tutorials_spark.graph.ckpt import checkpoint
    from erkg_tutorials_spark.graph.loop_confs import iterate

    e0 = checkpoint(edges_sym)
    counts = [e0.count()]

    def step(_i, e):
        keep = (
            e.groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("id")
        )
        yield (
            e.join(keep, e["src"] == keep["id"], "left_semi")
            .join(keep, e["dst"] == keep["id"], "left_semi")
        )

    def fixpoint(i, e):
        if i:
            counts.append(e.count())
        return counts[-1] == 0 or (i > 0 and counts[-1] == counts[-2])

    (e,), converged = iterate(
        step, (e0,), rounds=max_rounds, size=counts[0], until=fixpoint,
        owned=(e0,),
    )
    if not converged:
        raise RuntimeError(
            f"k_core(k={k}) did not converge within {max_rounds} peel rounds"
        )
    if counts[-1] == 0:
        return e.select(
            F.col("src").alias("id"), F.lit(0).cast("long").alias("deg")
        ).limit(0)
    # equal count ⇒ the last round dropped nothing: e is the k-core
    return (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("deg"))
        .where(F.col("deg") >= k)
    )


def k_core_peel_sql(k: int, rounds: int) -> str:
    """Unrolled-CTE oracle twin of :func:`k_core`.

    Expects an upstream ``edges(src, dst)`` CTE (symmetric). Produces
    ``core{rounds}(src, dst)`` — the edge set after ``rounds`` peels;
    extra rounds past the fixpoint are no-ops, so any ``rounds`` ≥ the
    true peel depth yields the exact k-core (mismatch otherwise, which
    is precisely what the hash gate is for).
    """
    parts = ["core0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
    keep{i} AS MATERIALIZED (
      SELECT src AS id FROM core{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    core{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM core{i - 1} e
      JOIN keep{i} ka ON e.src = ka.id
      JOIN keep{i} kb ON e.dst = kb.id
    )"""
        )
    return ",\n".join(parts)
