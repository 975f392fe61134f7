"""Deterministic Louvain-class community detection.

Louvain (Blondel et al. 2008, "Fast unfolding of communities in large
networks" — public paper) greedily moves vertices into the neighbor
community with the best modularity gain. The sequential algorithm is
order-dependent and not distributed; the production distributed form
(GDS/Grappolo-style) runs SYNCHRONOUS move rounds. Synchronous moves
of adjacent vertices oscillate (two singletons adopting each other's
label forever), so each round here restricts movers to one side of a
vertex partition class (caller-supplied boolean column expression,
alternating per round) — on a bipartite graph the classes are exact
independent sets, the standard alternating schedule; without one, an
md5-parity 2-coloring alternates instead.

One level, one summary, any edge weight: an edge table is
(src, dst[, w]) and an edge weighs its ``w`` if the table has that
column, otherwise 1 (the graph/pagerank.py::graph_invariants
convention). The aggregated supernode graph of :func:`louvain_two_level`
is just a weighted table whose self-loops carry the intra-community
mass: a self-loop counts toward its vertex's degree (and toward the
summary's intra-community mass) but never toward a move score — it
links the vertex to no OTHER member of any community.

Exactly replayable by construction (the full-hash-oracle contract):

* modularity gains are compared with INTEGER cross-multiplication —
  score(i -> c) = m2 * k_ic - k_i * tot'(c), all BIGINT, where m2 is
  the total symmetric edge weight (= 2m), k_ic the weight of i's
  non-self edges into c, k_i the weighted degree of i, and tot'(c) the
  community's total degree with i's own contribution removed when c is
  i's current community (Louvain's remove-then-compare). No floats
  anywhere (weights must be integral; trade counts are).
* the winning community is argmax score with ties broken by MINIMUM
  community id (byte-wise string order, identical in Spark and
  DuckDB for ASCII ids).
* a FIXED number of rounds on both engines; the DuckDB oracle unrolls
  the identical recursion.

Distributed shape (100 TB posture): per round, the |V|-row label
table BROADCASTS onto the edge table to build k_ic, so the edge table
never shuffles — the round's one exchange is the partial-aggregated
(i, c) groupBy (measured −32% at sf0.1 vs the shuffled-join plan). At
a scale where |V| outgrows broadcast, the graph/hints.py knob
(SPARK_GRAFT_GRAPH_BCAST=0 / _MAX_ROWS) drops them and co-shuffles
on the vertex key — the same trade-off documented for
betweenness/SSSP. Community totals are a |V|-row groupBy; the argmax
is a min(struct) aggregation, not a window, so no per-partition sort
of the full candidate set. Per-round lineage is truncated with a
CheckpointChain (labels are the only evolving state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.hints import vhint
from erkg_tutorials_spark.graph.ckpt import CheckpointChain


def _mass(edges: DataFrame) -> Column:
    """Summed edge weight: ``w`` if ``edges`` has it, else one per row."""
    return F.sum("w") if "w" in edges.columns else F.count("*")


def _degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src").agg(_mass(edges).alias("k"))


def _md5_parity(col):
    """Deterministic 2-coloring for the default alternating move
    schedule (the supernode graph is not bipartite): ascii of the
    first md5 hex char mod 2 — seed-free, identical in Spark and
    DuckDB."""
    return F.ascii(F.substring(F.md5(col), 1, 1)) % 2


def louvain_level(
    edges: DataFrame, rounds: int, move_class: "Column | None" = None
) -> DataFrame:
    """One modularity-greedy level over a DISTINCT symmetric edge table
    (src, dst[, w]). ``move_class``: boolean column over ``id``
    selecting the vertices allowed to move on EVEN rounds (the
    complement moves on odd rounds) — use the bipartite class on a
    bipartite graph; None falls back to the md5-parity 2-coloring.
    Returns (id, lbl) after ``rounds`` synchronous rounds."""
    deg = _degrees(edges).localCheckpoint(eager=True)  # loop-invariant
    m2 = deg.agg(F.sum("k")).collect()[0][0]  # scalar bound, not data
    d_i = deg.select(F.col("src").alias("i"), F.col("k").alias("k_i"))
    # k_ic reads only non-self edges: a self-loop is neither a link to
    # the current community's OTHER members nor to any candidate.
    links = edges.where(F.col("src") != F.col("dst"))

    chain = CheckpointChain()
    lbl = chain(deg.select(F.col("src").alias("id"), F.col("src").alias("lbl")))
    # Kept on AQE, off loop_confs.iterate, on measurement (r12, sf0.1,
    # best-of-3): the tuned session's AQE-off joins lost on both
    # callers — g_louvain_weighted_l1 10.8 → 19.5 s and degrading run
    # over run, g_louvain_two_level's hot path (over the memoized
    # level-1 labels) 7.0 → 11.4 s, more than the 18.3 → 15.1 s it won
    # on the cold unweighted build.
    for r in range(rounds):
        tot = (
            lbl.join(deg, lbl["id"] == deg["src"])
            .groupBy("lbl")
            .agg(F.sum("k").alias("tot"))
        )
        # k_ic: edge weight from i into each neighbor community. The
        # label table is |V| rows — broadcast it so the edge table
        # never shuffles; the round's one exchange is the partial-agged
        # (i, c) groupBy.
        k_ic = (
            links.join(vhint(lbl), links["dst"] == lbl["id"])
            .groupBy(links["src"].alias("i"), F.col("lbl").alias("c"))
            .agg(_mass(edges).alias("k_ic"))
        )
        # ensure the CURRENT community is always a candidate (k_ic may
        # be 0 when i has no intra-community neighbor)
        cand = (
            k_ic.unionByName(
                lbl.select(
                    F.col("id").alias("i"),
                    F.col("lbl").alias("c"),
                    F.lit(0).cast("long").alias("k_ic"),
                )
            )
            .groupBy("i", "c")
            .agg(F.sum("k_ic").alias("k_ic"))
        )
        cur = lbl.select(F.col("id").alias("i"), F.col("lbl").alias("cur"))
        scored = (
            cand.join(vhint(cur), "i")
            .join(vhint(d_i), "i")
            .join(vhint(tot), cand["c"] == tot["lbl"])
            .select(
                "i",
                "c",
                (
                    F.lit(m2) * F.col("k_ic")
                    - F.col("k_i")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("cur"), F.col("k_i")).otherwise(
                            F.lit(0)
                        )
                    )
                ).alias("score"),
            )
        )
        # argmax score, ties -> min community id: min over (-score, c)
        best = (
            scored.groupBy("i")
            .agg(F.min(F.struct((-F.col("score")).alias("ns"), F.col("c"))).alias("b"))
            .select(F.col("i").alias("id"), F.col("b.c").alias("new_lbl"))
        )
        if move_class is None:
            allowed = _md5_parity(F.col("id")) == F.lit(r % 2)
        else:
            allowed = move_class if r % 2 == 0 else ~move_class
        lbl = chain(
            lbl.join(best, "id").select(
                "id",
                F.when(allowed, F.col("new_lbl")).otherwise(F.col("lbl")).alias("lbl"),
            )
        )
    return lbl


def community_summary(edges: DataFrame, lbl: DataFrame) -> DataFrame:
    """Per-community exact-integer summary over (src, dst[, w]): member
    count, total degree, symmetric intra-community edge weight
    (self-loops included), and the scaled modularity numerator
    ``mod_num = m2 * in_sym - tot^2`` whose sum over communities equals
    Q * m2^2 (all BIGINT — associative, hashable)."""
    m2 = edges.agg(_mass(edges)).collect()[0][0]  # scalar bound, not data
    deg = _degrees(edges)
    base = (
        vhint(lbl).join(deg, lbl["id"] == deg["src"])
        .groupBy("lbl")
        .agg(F.count("*").alias("n_members"), F.sum("k").alias("tot_degree"))
    )
    a = lbl.select(F.col("id").alias("_a"), F.col("lbl").alias("_la"))
    b = lbl.select(F.col("id").alias("_b"), F.col("lbl").alias("_lb"))
    in_sym = (
        edges.join(vhint(a), edges["src"] == F.col("_a"))
        .join(vhint(b), edges["dst"] == F.col("_b"))
        .where(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("lbl"))
        .agg(_mass(edges).alias("in_sym"))
    )
    return (
        base.join(in_sym, "lbl", "left")
        .select(
            F.col("lbl").alias("community"),
            "n_members",
            "tot_degree",
            F.coalesce("in_sym", F.lit(0)).alias("in_sym"),
            (
                F.lit(m2) * F.coalesce("in_sym", F.lit(0))
                - F.col("tot_degree") * F.col("tot_degree")
            ).alias("mod_num"),
        )
    )


def louvain_two_level(
    edges: DataFrame,
    rounds1: int,
    rounds2: int,
    move_class,
    lbl1: "DataFrame | None" = None,
) -> DataFrame:
    """Two Louvain levels: level-1 labels, community aggregation into
    a weighted supernode graph (self-loops = intra edges), a second
    level over it on the md5-parity schedule, and the composed
    per-vertex labels (id, lbl). The aggregation is the step that
    makes Louvain scale: the level-2 graph has one row per community
    PAIR, so the second level's work is independent of |V|. ``lbl1``
    lets the caller pass a memoized level-1 label table (both community
    queries share it); None recomputes it here."""
    if lbl1 is None:
        lbl1 = louvain_level(edges, rounds=rounds1, move_class=move_class)
    ls = lbl1.select(F.col("id").alias("_s"), F.col("lbl").alias("cs"))
    ld = lbl1.select(F.col("id").alias("_d"), F.col("lbl").alias("cd"))
    wedges = (
        edges.join(ls, edges["src"] == F.col("_s"))
        .join(ld, edges["dst"] == F.col("_d"))
        .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .agg(F.count("*").alias("w"))
    ).localCheckpoint(eager=True)
    lbl2 = louvain_level(wedges, rounds=rounds2)
    return (
        lbl1.alias("a")
        .join(
            lbl2.select(F.col("id").alias("_c"), F.col("lbl").alias("lbl2")),
            F.col("a.lbl") == F.col("_c"),
        )
        .select(F.col("a.id").alias("id"), F.col("lbl2").alias("lbl"))
    )
