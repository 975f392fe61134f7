"""Maximal independent set via Luby-style rounds.

MIS is the classic distributed symmetry-breaking primitive (Luby 1986)
— the building block behind distributed coloring, scheduling and
correlation-clustering pivots. The GDS-tier verb here complements the
community/centrality suite. Reference analogue: the tutorials' GDS
catalogue tier (/root/reference/Readme.md).

Determinism: instead of Luby's random priorities, each vertex draws a
fixed priority ``md5('mis:' || id)`` — the same derandomization-by-hash
device the repo's node2vec walks use (graph/node2vec.py). A vertex
joins the MIS in round r when its priority is strictly below every
ACTIVE neighbor's; it and its neighbors then leave the active set.
Identical in Spark and the unrolled DuckDB oracle, so the gate is a
full hash match.

Scale: each round is one edges⋈active semi-join + a groupBy(dst).min
(map-side combinable), with the active set shrinking geometrically —
Luby's analysis removes a constant fraction of EDGES per round in
expectation, and the md5 draw behaves like a uniform one. The active
and priority tables are |V|-row broadcasts (same class as the
Katz/Louvain label broadcasts; fallback via the graph/hints.py knob,
parity test-pinned in tests/test_mst_mis.py).
Fixed ``rounds``: vertices still active after the last round are
reported undecided by the caller's contract (none remain at the test
scales — asserted in tests/test_mst_mis.py together with independence
and maximality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.ckpt import checkpoint
from erkg_tutorials_spark.graph.hints import vhint
from erkg_tutorials_spark.graph.loop_confs import iterate


def luby_mis(edges_sym: DataFrame, rounds: int = 6) -> DataFrame:
    """MIS members of a symmetric unweighted edge table.

    Returns (id, round) — the round in which each vertex entered the
    independent set.
    """
    n_edges = edges_sym.count()  # loop sizing (callers pass memoized tables)
    # checkpointed once: as a lazy plan it re-ran the distinct over the
    # edge table on every per-round reference
    pri = (
        edges_sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("p", F.md5(F.concat(F.lit("mis:"), F.col("id"))))
        .localCheckpoint(eager=True)
    )
    act0 = checkpoint(pri.select("id"))
    out: DataFrame | None = None

    def step(r, act, edges_sym, pri):
        nonlocal out
        a_src = vhint(act.select(F.col("id").alias("src")))
        a_dst = vhint(act.select(F.col("id").alias("dst")))
        p_dst = vhint(
            pri.select(F.col("id").alias("dst"), F.col("p").alias("pd"))
        )
        nmin = (
            edges_sym.join(a_src, "src")
            .join(a_dst, "dst")
            .join(p_dst, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("pd").alias("nmin"))
        )
        sel = (
            act.join(vhint(pri), "id")
            .join(nmin, "id", "left")
            .where(F.col("nmin").isNull() | (F.col("p") < F.col("nmin")))
            .select("id")
            .localCheckpoint(eager=True)
        )
        pk = sel.withColumn("round", F.lit(r))
        out = pk if out is None else out.unionByName(pk)
        rem = (
            edges_sym.join(
                vhint(sel.select(F.col("id").alias("src"))), "src"
            )
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        yield act.join(sel, "id", "left_anti").join(rem, "id", "left_anti")

    # converged: nothing active means every later round selects nothing
    # — identical output to the oracle's full unrolling (its remaining
    # sel CTEs are empty), without the jobs
    (act,), _ = iterate(
        step, (act0,), (edges_sym, pri), rounds=rounds, size=n_edges,
        until=lambda _i, act: act.isEmpty(), owned=(pri, act0),
    )
    if out is None:  # vertexless input: empty set, same schema
        return act.limit(0).withColumn("round", F.lit(0))
    return out


def luby_mis_sql(edges_cte: str, rounds: int = 6) -> str:
    """DuckDB oracle twin: identical fixed-round unrolling.

    ``edges_cte`` must open a WITH clause defining ``edges(src,dst)``
    (both orientations) and ``verts(id)``.
    """
    parts = [
        """
    pri AS MATERIALIZED (
      SELECT id, md5('mis:' || id) AS p FROM verts
    ),
    act0 AS MATERIALIZED (SELECT id FROM verts)"""
    ]
    for r in range(rounds):
        parts.append(f"""
    nm{r} AS MATERIALIZED (
      SELECT e.src AS id, MIN(p.p) AS nmin
      FROM edges e JOIN act{r} a ON a.id = e.src
                   JOIN act{r} b ON b.id = e.dst
                   JOIN pri p ON p.id = e.dst
      GROUP BY e.src
    ),
    sel{r} AS MATERIALIZED (
      SELECT a.id FROM act{r} a JOIN pri p ON p.id = a.id
      LEFT JOIN nm{r} n ON n.id = a.id
      WHERE n.nmin IS NULL OR p.p < n.nmin
    ),
    rem{r} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS id
      FROM edges e JOIN sel{r} s ON s.id = e.src
    ),
    act{r + 1} AS MATERIALIZED (
      SELECT a.id FROM act{r} a
      LEFT JOIN sel{r} s ON s.id = a.id
      LEFT JOIN rem{r} x ON x.id = a.id
      WHERE s.id IS NULL AND x.id IS NULL
    )""")
    finals = "\n    UNION ALL\n".join(
        f"    SELECT id, CAST({r} AS INTEGER) AS round FROM sel{r}"
        for r in range(rounds)
    )
    return edges_cte + "," + ",".join(parts) + "\n" + finals
