"""Betweenness centrality from a sampled source set (Brandes 2001).

Brandes' algorithm ("A Faster Algorithm for Betweenness Centrality",
J. Math. Sociol. 2001 — public paper): for each source s, a forward
BFS computes per-vertex shortest-path counts sigma, then a backward
sweep over the BFS levels accumulates dependencies
``delta(v) = sum_w sigma(v)/sigma(w) * (1 + delta(w))`` over v's
shortest-path successors w; betweenness(v) = sum over sources of
delta. Exact betweenness runs this from EVERY vertex — O(V*E), never
done at scale. The production form (GDS's sampled betweenness, the
reference's intended surface at /root/reference/Readme.md:33-36) runs
it from a deterministic sampled source set; this module implements
that, with all sources advanced TOGETHER as one keyed frontier so the
number of Spark rounds is the graph diameter bound, not
|sources| * diameter.

Distributed shape (100 TB posture):

* the frontier/visited/level tables are at most |V| x |sources| rows
  (vertex id + source id + BIGINT sigma) — broadcast into the edge
  joins so the big edge table NEVER shuffles; at a scale where
  |V| x |sources| outgrows broadcast, the graph/hints.py knob drops
  the hints and both sides co-shuffle on the vertex key (the `g_shortest_paths` trade-off,
  plans/graphq.py).
* per-round lineage is truncated with eager localCheckpoints. The
  evolving visited set goes through a CheckpointChain (prior rounds
  released as the loop advances); the per-level tables do NOT — the
  backward sweep reads every level, so each is checkpointed directly
  and kept (the "loop-invariant" rule in graph/ckpt.py).
* sigma path counts are exact BIGINTs; the dependency accumulation is
  double math in the exact expression order the DuckDB oracle uses
  (``sigma / sigma_w * (1 + delta_w)``), with the final ROUND(_, 6)
  absorbing summation-order ulps — the pagerank-family float-parity
  contract (plans/oracle_pr.py).

Truncation contract: ``max_rounds`` bounds the BFS depth. Shortest
paths longer than the bound are not counted — BOTH engines truncate
at the same bound, so the oracle hash-match is exact regardless of
whether the graph's true eccentricity exceeds it. An empty frontier
ends the loop early; the oracle's corresponding unrolled rounds are
empty CTEs, so early exit is also exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.ckpt import checkpoint
from erkg_tutorials_spark.graph.hints import vhint


def bfs_round(f: DataFrame, vis: DataFrame, edges: DataFrame) -> DataFrame:
    """One forward Brandes round as a pure plan (checkpointing happens
    in the loop): frontier and visited-set BROADCAST into the edge
    join/anti-join so the edge table never shuffles — the
    g_shortest_paths trade-off, plan-gated in tests/test_betweenness.py."""
    cand = (
        vhint(f)
        .join(edges, f["id"] == edges["src"])
        .select("lm", F.col("dst").alias("id"), "sigma")
    )
    return (
        cand.join(vhint(vis), ["lm", "id"], "left_anti")
        .groupBy("lm", "id")
        .agg(F.sum("sigma").alias("sigma"))
    )


def betweenness_sampled(
    edges: DataFrame, sources: DataFrame, max_rounds: int = 8
) -> DataFrame:
    """Sampled-source betweenness over a DISTINCT symmetric edge set.

    ``edges``: (src, dst), one row per directed edge, no parallel
    edges (parallel edges would inflate sigma). ``sources``: (lm,) —
    the sampled source vertex ids. Returns (id, betweenness) with
    betweenness = ROUND(sum of Brandes dependencies over sources, 6);
    vertices with zero accumulated dependency and the unreached are
    absent (they cannot be in any top-k).
    """
    from erkg_tutorials_spark.graph.loop_confs import iterate

    frontier = sources.select(
        F.col("lm"),
        F.col("lm").alias("id"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    vis0 = checkpoint(frontier.select("lm", "id"))
    levels: list[DataFrame] = []

    # forward: keyed multi-source BFS carrying exact path counts
    def step(_i, vis, edges, frontier):
        nxt = bfs_round(
            levels[-1] if levels else frontier, vis, edges
        ).localCheckpoint(eager=True)
        if nxt.isEmpty():
            return
        levels.append(nxt)
        yield vis.unionByName(nxt.select("lm", "id"))

    iterate(
        step, (vis0,), (edges, frontier), rounds=max_rounds,
        size=edges.count(), owned=(frontier, vis0),
    )
    if not levels:  # no source reaches anything
        return sources.sparkSession.createDataFrame(
            [], "id string, betweenness double"
        )
    # backward: dependency accumulation, deepest level first. The levels
    # are loop-session frames, so these plans keep the loop confs too
    deltas: list[DataFrame] = []
    deeper: DataFrame | None = None
    for v in reversed(levels):
        if deeper is None:
            cur = v.withColumn("delta", F.lit(0.0))
        else:
            w = deeper.select(
                "lm",
                F.col("id").alias("_w"),
                F.col("sigma").alias("_ws"),
                F.col("delta").alias("_wd"),
            )
            contrib = (
                vhint(v)
                .join(edges, v["id"] == edges["src"])
                .select("lm", "id", "sigma", F.col("dst").alias("_w"))
                .join(vhint(w), ["lm", "_w"])
                .groupBy("lm", "id")
                .agg(
                    F.sum(
                        F.col("sigma") / F.col("_ws") * (F.lit(1.0) + F.col("_wd"))
                    ).alias("delta")
                )
            )
            cur = (
                v.join(contrib, ["lm", "id"], "left")
                .select(
                    "lm",
                    "id",
                    "sigma",
                    F.coalesce("delta", F.lit(0.0)).alias("delta"),
                )
            )
        cur = cur.localCheckpoint(eager=True)
        deltas.append(cur)
        deeper = cur

    acc = reduce(
        DataFrame.unionByName, [d.select("id", "delta") for d in deltas]
    )
    return acc.groupBy("id").agg(
        F.round(F.sum("delta"), 6).alias("betweenness")
    )
