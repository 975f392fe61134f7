"""Edge-iterator triangle enumeration over DEGREE-ORDERED adjacency
intersections.

The naive distributed triangle plan (three equi-joins over the
canonical u < v edge set) materializes and SHUFFLES one row per
WEDGE — Σ_b lo(b)·hi(b) rows, ~49M at sf0.1 on the co-order part
graph, then probes the edge set again to keep actual triangles. The
edge-iterator formulation does the same asymptotic work WITHOUT the
wedge shuffle: build each vertex's out-neighbor array once
(one groupBy), join the two endpoint arrays onto each edge (edge-set
sized join, arrays ride along columnar), and intersect them inside
whole-stage codegen (`array_intersect` hashes the smaller array).
Only the TRIANGLES that actually exist are exploded afterwards, so
shuffle volume drops from wedge-count to edge-count + triangle-count.

Orientation matters at scale. Any TOTAL ORDER on vertices finds each
triangle exactly once (at the oriented edge between its two smallest
vertices, the largest in the intersection), but the per-vertex
out-array length — and with it the adjacency-shuffle row width and
the per-edge intersection cost — depends on WHICH order:

- id order (u < v): free, but a hub that happens to have a low id
  keeps ALL its neighbors in one array — the worst array is the
  graph's max degree, unbounded on hub graphs.
- degree order (orient each edge toward its higher-(degree, id)
  endpoint): every out-array is bounded by sqrt(2m) — a vertex with
  out-degree d has d neighbors of degree >= its own, so d(d-1)/2 <= m
  — and by the graph's arboricity on sparse graphs. Same triangle
  set, same outputs; the skewed array simply cannot exist. Costs one
  degree groupBy + two edge⋈degree joins per enumeration.

The orientation is the ADAPTIVE choice between those two worst-array
bounds (max_deg vs sqrt(2m), one tiny aggregate on the data decides
— see :func:`_id_order_suffices`). The r12 measurements forced this: the
r11 100x bend (triangle 15.4x/decade) was first attributed to id-
order hub skew, but the co-order graph is near-regular (max_deg 222
vs sqrt(2m) 1547 at sf0.1 — and copies REPLICATE max_deg while
growing m, so it gets relatively more regular per decade); degree
orientation bought no bound and cost 2.0x at the 10x step (44.1 s vs
22.4 s, fresh memos, init=32). The real 100x fix was partition
sizing (session.py initialPartitionNum notes). Auto keeps the free
id order exactly where it is provably at least as good, and buys the
Schank-Wagner bound exactly where hubs make it pay.

Measured at sf0.1 (local[32], SCALING.md r7/r12): g_triangle_count
17.8 s → edge-iterator rewrite; per-vertex and per-edge counts are
bit-identical to the three-join plan under either orientation (the
DuckDB oracles are orientation-free and unchanged).

Public algorithm; cf. Schank & Wagner 2005, "Finding, Counting and
Listing All Triangles in Large Graphs" (the forward/degree-ordered
variant), and Cohen 2009 MapReduce triangle counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _id_order_suffices(row) -> bool:
    """Whether id order's worst out-array is at least as tight as degree
    order's, from a ``(mx, two_m)`` row: the max degree and the degree
    sum 2m of the edge set.

    Both orders are EXACT (any total vertex order finds each triangle
    once; all public outputs are orientation-invariant); the choice only
    moves the cost. Id order pays no orientation pass, and its worst
    array is max_deg. Degree order bounds every array by sqrt(2m) — no
    hub skew can exist in the adjacency shuffle — at the price of one
    degree groupBy + two edge⋈degree joins per enumeration (measured
    2.0x on the near-regular co-order graph at the 10x step, where the
    bound buys nothing: max_deg 222 vs sqrt(2m) 1547). So compare the
    two bounds on the actual data: a near-regular graph (every TPC-H-
    derived graph here; copies replicate max_deg but grow m) keeps the
    free id order, and a hub graph (max_deg² > 2m) gets the
    Schank-Wagner bound exactly when it pays. Equal-bound ties keep id
    order."""
    return row["mx"] is None or row["mx"] * row["mx"] <= row["two_m"]


def oriented_edges(e: DataFrame) -> DataFrame:
    """Each undirected edge of the canonical (u < v, distinct) edge set
    ``e``, re-oriented so every out-array is bounded: from its
    lower-(degree, id) endpoint to its higher-(degree, id) endpoint
    (bound sqrt(2m)), or the input id order as-is when that order's
    bound (max_deg) is already as tight. Bijective on edges either
    way; see :func:`_id_order_suffices` for the selection rule. When
    degree order wins, the probe's degree table is reused for the
    orientation joins."""
    deg = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    row = deg.agg(F.max("deg").alias("mx"), F.sum("deg").alias("two_m")).collect()[0]
    if _id_order_suffices(row):
        return e.select("u", "v")
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        )
    )


def _oriented_adjacency(e: DataFrame, nbrs: DataFrame | None) -> DataFrame:
    """(id, nbrs) out-neighbor arrays of ``e`` under the selected
    orientation (see :func:`_id_order_suffices`).

    ``nbrs``: optional caller-materialized FULL adjacency table
    ``(id, ns)`` of the same edge set — sorted distinct neighbor sets,
    the shape ``coorder_nbrs_cached`` memoizes for the clustering
    family. When given and id order is selected, the out-arrays are a
    per-row ``filter(ns, x > id)`` over the |V|-row cached table —
    the adjacency groupBy shuffle this function otherwise pays per
    enumeration disappears (one Exchange removed from every triangle/
    k-truss round-0 plan). Same elements per array (edges are
    distinct, so collect_list = the neighbor set; intersections are
    order-insensitive). The orientation probe also reads the memo
    (max/sum of array sizes = max_deg / 2m) instead of re-aggregating
    the edge union. Degree orientation keeps the build from ``e``
    (the filtered-array shortcut only expresses id order)."""
    if nbrs is not None:
        row = nbrs.agg(
            F.max(F.size("ns")).alias("mx"),
            F.sum(F.size("ns")).alias("two_m"),
        ).collect()[0]
        if _id_order_suffices(row):
            return nbrs.select(
                "id",
                F.filter("ns", lambda x: x > F.col("id")).alias("nbrs"),
            )
    return (
        oriented_edges(e)
        .groupBy(F.col("u").alias("id"))
        .agg(F.collect_list("v").alias("nbrs"))
    )


def triangle_edge_rows(e: DataFrame, nbrs: DataFrame | None = None) -> DataFrame:
    """(u, v, ws, cnt) per degree-oriented edge (u ≺ v in (degree, id)
    order) of the canonical edge set ``e(u, v)``: ``ws`` the array of
    third vertices w (with u ≺ w and v ≺ w) closing a triangle over
    {u, v}, ``cnt`` its size; edges closing no triangle are absent.
    Each triangle appears exactly once, on the oriented edge between
    its two (degree, id)-smallest vertices. NOTE: u/v here are in
    DEGREE order, not id order — consumers aggregating per vertex are
    orientation-free; consumers emitting per-edge rows must
    re-canonicalize with least/greatest (see :func:`edge_support`).

    ``nbrs``: optional memoized full adjacency — see
    :func:`_oriented_adjacency`."""
    adj = _oriented_adjacency(e, nbrs)
    # the oriented edge set IS the adjacency exploded — deriving the
    # probe rows from adj (u's out-array riding along the explode)
    # instead of re-joining adj onto a second copy of the oriented
    # edges keeps the orientation joins in ONE subplan (adj's two uses
    # share the same aggregate exchange, which Spark reuses; a separate
    # oriented-edge probe side would recompute the degree joins) and
    # drops the u-side array join entirely. The exploded row carries
    # the same u_nbrs payload the former join output carried — no new
    # data volume, one less shuffle.
    pairs = adj.select(
        F.col("id").alias("u"),
        F.explode("nbrs").alias("v"),
        F.col("nbrs").alias("u_nbrs"),
    )
    av = adj.select(F.col("id").alias("v"), F.col("nbrs").alias("v_nbrs"))
    # inner join on the v side: an edge whose v has no out-neighbors
    # closes no triangle ON THIS ROW (its triangles, if any, are found
    # at their own apex edges), so dropping it is exact — and a
    # triangle's apex row always survives, since for vertices a ≺ b ≺ c
    # the oriented edges are a→b, a→c, b→c: out(a) ∩ out(b) ∋ c at the
    # (a, b) row, and no other edge of the triangle sees it.
    #
    # SHUFFLE_HASH, not the default sort-merge: the pairs side carries
    # u's whole out-array per edge — Σ_u d(u)² cells, the WEDGE volume
    # (~39 GB raw at the 100x notch) — and sorting it is what turned
    # the 100x run into a spill storm (r12: the SMJ sort of this join
    # filled a 76 GB scratch disk; sort spill rewrites the data
    # multiple times across merge passes). The hash build side is the
    # adjacency table itself — |V| rows, Σd = 2m array cells, ~1 GB at
    # 100x split across partitions — so the build always fits, and the
    # wedge-sized side STREAMS through the join with zero sort, zero
    # spill. At cluster scale the same asymmetry holds by construction
    # (build side is linear in m, probe side quadratic in degree).
    return (
        pairs.join(av.hint("SHUFFLE_HASH"), "v")
        .select(
            "u",
            "v",
            F.array_intersect(F.col("u_nbrs"), F.col("v_nbrs")).alias("ws"),
        )
        .withColumn("cnt", F.size("ws").cast("long"))
        .where(F.col("cnt") > 0)
    )


def vertex_triangle_counts(
    e: DataFrame, nbrs: DataFrame | None = None
) -> DataFrame:
    """(id, count): undirected triangle count per vertex of the
    canonical edge set ``e(u, v)``; vertices in no triangle absent.
    Orientation-free: each triangle row contributes once to each of
    its three vertices regardless of which edge carried it.

    All three corner contributions are minted from ONE pass over the
    triangle rows (per-row struct array exploded once), not a 3-way
    union of projections of ``tri`` — a union makes the wedge-sized
    enumeration subplan appear three times, and whether Catalyst
    reuses it across differently-projected branches is an exchange-
    boundary accident, not a guarantee. One explode makes single
    execution structural (r12: the 100x notch showed the enumeration
    re-running under the union shape)."""
    tri = triangle_edge_rows(e, nbrs=nbrs)
    one = F.lit(1).cast("long")
    contrib = tri.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("u").alias("id"), F.col("cnt").alias("w")),
                    F.struct(F.col("v").alias("id"), F.col("cnt").alias("w")),
                ),
                F.transform(
                    "ws",
                    lambda w: F.struct(w.alias("id"), one.alias("w")),
                ),
            )
        ).alias("c")
    ).select("c.id", "c.w")
    return contrib.groupBy("id").agg(F.sum("w").alias("count"))


def edge_support(e: DataFrame, nbrs: DataFrame | None = None) -> DataFrame:
    """(u, v, s): triangle count per canonical edge of ``e(u, v)``
    with u < v (id order — the caller's canonical form). Edges in no
    triangle are absent. A triangle found at its degree-oriented apex
    row supports all three of its edges; the oriented endpoints are
    re-canonicalized with least/greatest since degree order and id
    order disagree in general."""
    tri = triangle_edge_rows(e, nbrs=nbrs)
    one = F.lit(1).cast("long")

    def _edge(a, b, w):
        return F.struct(
            F.least(a, b).alias("eu"), F.greatest(a, b).alias("ev"),
            w.alias("w"),
        )

    # one explode over per-row contribution arrays, not a 3-way union
    # of tri projections — see vertex_triangle_counts for why single
    # execution of the enumeration must be structural
    contrib = tri.select(
        F.explode(
            F.concat(
                F.array(_edge(F.col("u"), F.col("v"), F.col("cnt"))),
                F.transform("ws", lambda w: _edge(F.col("u"), w, one)),
                F.transform("ws", lambda w: _edge(F.col("v"), w, one)),
            )
        ).alias("c")
    ).select(
        F.col("c.eu").alias("u"), F.col("c.ev").alias("v"), F.col("c.w").alias("w")
    )
    return contrib.groupBy("u", "v").agg(F.sum("w").alias("s"))
