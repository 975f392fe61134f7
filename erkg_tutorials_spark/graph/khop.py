"""k-hop neighborhood expansion over an edge DataFrame.

Re-expresses the reference's "friends of friends" filter
(``/root/reference/src/senzing_pipeline.py:373-397``): seed vertex set →
1-hop neighbors (rank_1) → 2-hop neighbors of (rank_0 ∪ rank_1)
(rank_2) → union of all hops (set semantics, ``:394-397``).

Spark-first design: each hop is one equi-join ``frontier ⋈ edges`` +
``distinct()``. Catalyst picks broadcast-hash when the frontier is small
(the usual case — 17 seeds in the reference) and AQE handles skewed hub
vertices. At true 100 TB graph scale, per-hop ``distinct`` bounds
frontier growth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Vertex ids reachable from ``seeds`` in ≤ k directed hops.

    Mirrors the reference semantics: the hop-2 frontier expands from the
    union of hop-0 and hop-1 (senzing_pipeline.py:394-396), i.e. every
    hop expands the *cumulative* reach, and the result is the distinct
    union of every hop including the seeds (``:397``).

    Returns a DataFrame with a single ``id`` column.
    """
    reach = seeds.select(F.col(id_col).alias("id")).distinct()
    frontier = reach
    for _ in range(k):
        # BFS frontier expansion: N(reach) ≡ previous-frontier neighbors
        # ∪ already-reached, so expanding only the frontier is equivalent
        # to the reference's cumulative expansion — at a fraction of the
        # join input size.
        frontier = (
            frontier.join(edges, frontier["id"] == edges[src])
            .select(F.col(dst).alias("id"))
            .distinct()
        )
        reach = reach.unionByName(frontier)
    return reach.distinct()


def k_hop_labeled(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Like :func:`k_hop` but returns ``(id, hop)`` where ``hop`` is the
    minimal hop count at which the vertex is reached (seeds → 0)."""
    reach = seeds.select(F.col(id_col).alias("id"), F.lit(0).cast("long").alias("hop")).distinct()
    frontier = reach.select("id")
    for i in range(1, k + 1):
        # frontier-only BFS expansion (see k_hop); min() repairs any
        # re-discovery of earlier-hop vertices
        frontier = (
            frontier.join(edges, frontier["id"] == edges[src])
            .select(F.col(dst).alias("id"))
            .distinct()
        )
        reach = reach.unionByName(
            frontier.select("id", F.lit(i).cast("long").alias("hop"))
        )
    return reach.groupBy("id").agg(F.min("hop").alias("hop"))
