"""k-truss decomposition: the maximal subgraph in which every edge
participates in at least (k-2) triangles — the standard dense-
community primitive one level stronger than k-core (every k-truss is
a (k-1)-core, not vice versa).

Algorithm: iterated support peel. Each round enumerates triangles
over the canonical (u < v) edge set with the same edge-iterator
adjacency-intersection shape as triangleCount (graph/triangles.py —
orientation chosen adaptively per round from the CURRENT round's
degrees, so a hub remnant gets the sqrt(2m) Schank-Wagner bound and
a regular one keeps the free id order; any total order is exact per
round), counts per-edge support, and drops edges below k-2; removing
an edge can destroy other edges' triangles, so the peel repeats
until a round removes nothing.

Scale shape: each round is one adjacency groupBy + two edge-set
joins plus one (u, v) count — shuffle volume is edges + actual
triangles, never wedges, and there is no driver state. The peel
is monotone (edge sets only shrink), so round cost falls sharply:
on the co-order part graph the first peel removes ~99% of edges and
subsequent rounds run on the dense remnant. The edge set is
localCheckpoint'ed per round — the plan tree would otherwise double
every round while the data shrinks.

Convergence is checked, not assumed: the loop raises if the fixpoint
is not reached within ``max_rounds`` — and the DuckDB oracle unrolls
exactly ``max_rounds`` rounds, so an insufficient bound would also
surface as a hash mismatch (idempotent post-fixpoint rounds keep the
unrolled chain exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.triangles import edge_support


def k_truss(
    edges: DataFrame,
    k: int,
    max_rounds: int = 8,
    nbrs0: DataFrame | None = None,
) -> DataFrame:
    """Surviving (u, v) edges of the k-truss of ``edges(u, v)``
    (canonical u < v, distinct). Raises on non-convergence within
    ``max_rounds`` so an insufficient bound fails loudly instead of
    returning a non-truss.

    ``nbrs0``: optional memoized full adjacency of ``edges`` — valid
    for the FIRST peel round only (later rounds run on the shrunken
    remnant), where it removes the round's adjacency groupBy exchange.
    The dominant round IS the first (it peels ~97% of edges on the
    co-order graph), so that is exactly where the memo pays."""
    from erkg_tutorials_spark.graph.ckpt import CheckpointChain

    chain = CheckpointChain()
    e = chain(edges.select("u", "v"))
    prev = e.count()
    for rnd in range(max_rounds):
        keep = edge_support(e, nbrs=nbrs0 if rnd == 0 else None).where(
            F.col("s") >= k - 2
        )
        e2 = chain(e.join(keep, ["u", "v"], "left_semi"))
        n = e2.count()
        if n == prev:
            # the peel only ever removes edges, so equal count ⇒
            # identical edge set ⇒ fixpoint
            return e2
        e, prev = e2, n
    raise RuntimeError(
        f"k_truss(k={k}) did not reach a fixpoint within {max_rounds} rounds"
        " — raise max_rounds"
    )
