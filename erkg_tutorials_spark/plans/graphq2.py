"""Graph query surface, wave 2: spanning-forest and independent-set
verbs over the customer↔supplier trade graph (the GDS catalogue tier,
/root/reference/Readme.md) — distributed Borůvka MST and Luby-style
MIS, both derandomized so the DuckDB oracle is a full hash match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from erkg_tutorials_spark.graph.coloring import (
    greedy_coloring,
    greedy_coloring_sql,
)
from erkg_tutorials_spark.graph.mis import luby_mis, luby_mis_sql
from erkg_tutorials_spark.graph.mst import boruvka_forest, boruvka_forest_sql
from erkg_tutorials_spark.graph.hints import vhint
from erkg_tutorials_spark.plans.graphq import (
    _SYM_EDGES_CTE,
    _WSYM_EDGES_CTE,
    trade_edges_sym,
    trade_wedges_sym,
)

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


MST_ROUNDS = 4
MST_JUMPS = 7
MIS_ROUNDS = 6


@register(
    "g_mst_forest",
    boruvka_forest_sql(_WSYM_EDGES_CTE, rounds=MST_ROUNDS, jumps=MST_JUMPS),
)
def g_mst_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the trade-count weighted graph via deterministic Borůvka rounds (edge_a, edge_b, weight, round)."""
    return boruvka_forest(
        trade_wedges_sym(spark, sf_dir), rounds=MST_ROUNDS, jumps=MST_JUMPS
    )


@register(
    "g_mis_luby",
    luby_mis_sql(_SYM_EDGES_CTE, rounds=MIS_ROUNDS),
)
def g_mis_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set of the trade graph via hash-derandomized Luby rounds (id, round selected)."""
    return luby_mis(trade_edges_sym(spark, sf_dir), rounds=MIS_ROUNDS)


# ---------------------------------------------------------------------------
# Incremental PageRank (warm-start maintenance): rank the FULL graph by
# continuing from a rank vector converged on the graph as of a cutoff
# date, running only a short tail of iterations over the updated edge
# set. The maintenance story for a 100 TB graph: the expensive phase-1
# convergence is amortized across batches — each ingest batch pays
# phase 2 only (here 3 iterations instead of a cold 8), because the
# damped iteration contracts toward the new fixpoint from any start
# and a warm start is already close. Deterministic: both phases are
# fixed-iteration unrollings, hash-matched end to end; the closeness
# of the 6+3 warm result to a cold full-graph run is pinned separately
# in tests/test_mst_mis.py::TestIncrementalPR.
# ---------------------------------------------------------------------------
PR_CUTOFF = "1998-06-01"
PR_BASE_ITERS = 6
PR_DELTA_ITERS = 3


def _pr_chain(p: str, iters: int, init: str) -> str:
    """Prefixed PageRank CTE chain {p}pr0..{p}pr{iters} over
    {p}verts/{p}nn/{p}ed (built here from {p}edges); ``init`` is the
    SELECT body for {p}pr0."""
    parts = [
        f"""
    {p}verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM {p}edges),
    {p}nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM {p}verts),
    {p}od AS MATERIALIZED (
      SELECT src, COUNT(*) AS od FROM {p}edges GROUP BY src
    ),
    {p}ed AS MATERIALIZED (
      SELECT e.src, e.dst, d.od FROM {p}edges e JOIN {p}od d USING (src)
    ),
    {p}pr0 AS MATERIALIZED ({init})"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    {p}pr{i} AS MATERIALIZED (
      SELECT v.id,
             0.15::DOUBLE / nn.n
               + (1.0::DOUBLE - 0.15::DOUBLE)
                 * COALESCE(c.contrib, 0.0::DOUBLE) AS rank
      FROM {p}verts v CROSS JOIN {p}nn nn LEFT JOIN (
        SELECT e.dst AS id, SUM(p.rank / e.od) AS contrib
        FROM {p}pr{i - 1} p JOIN {p}ed e ON p.id = e.src
        GROUP BY e.dst
      ) c ON c.id = v.id
    )""")
    return ",".join(parts)


def _incr_pr_oracle() -> str:
    base = f"""
    WITH braw AS MATERIALIZED (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate < DATE '{PR_CUTOFF}'
    ),
    bedges AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM braw
      UNION ALL SELECT s AS src, c AS dst FROM braw
    ),
    fraw AS MATERIALIZED (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    fedges AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM fraw
      UNION ALL SELECT s AS src, c AS dst FROM fraw
    ),"""
    bchain = _pr_chain(
        "b",
        PR_BASE_ITERS,
        "SELECT id, 1.0::DOUBLE / nn.n AS rank"
        " FROM bverts CROSS JOIN bnn nn",
    )
    fchain = _pr_chain(
        "f",
        PR_DELTA_ITERS,
        f"""SELECT v.id, COALESCE(b.rank, 1.0::DOUBLE / nn.n) AS rank
      FROM fverts v CROSS JOIN fnn nn
      LEFT JOIN bpr{PR_BASE_ITERS} b ON b.id = v.id""",
    )
    return (
        base
        + bchain.lstrip().lstrip(",")
        + ","
        + fchain
        + f"""
    SELECT id, ROUND(rank, 6) AS rank FROM fpr{PR_DELTA_ITERS}
    ORDER BY rank DESC, id ASC LIMIT 20
    """
    )


def dated_trade_edges_sym(
    spark: SparkSession, sf_dir: str, before: str
) -> DataFrame:
    """Distinct symmetric trade edges restricted to orders before a
    cutoff date (the 'graph as of the last converged batch')."""
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    fwd = (
        t["orders"]
        .where(F.col("o_orderdate") < F.lit(before))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


class _DatedPre:
    """Per-run loop invariants for a DATED (cutoff) symmetric trade
    graph, shaped exactly like trade_graph_invariants but NOT memoized:
    the base chain is this query's honest per-run cost — only the
    intra-run recomputation is removed.

    Why: pagerank()'s inline invariant path derives verts/out-degree/
    danglers from an UNCACHED edge plan, so one base run re-executes
    the dated orders⋈lineitem distinct 3-4x (e_deg count, verts
    distinct-union, danglers materialization) — measured as the 9-28 s
    variance-dominating prologue of g_pagerank_incremental (phases
    probe, OPTIMIZATION_r12.md). Caching the half-sized fwd table once
    and deriving everything from it makes each invariant a cheap
    in-memory agg; the mirror stays a projection (caching the union
    would double memory, trade_edges_sym's rule). The tables come from
    graph/pagerank.py::graph_invariants(symmetric=True): the out-degree
    key set IS the vertex set and danglers is an empty frame.

    release() drops the per-run caches; safe once pagerank() returns
    (its result is eagerly checkpoint-backed by loop exit)."""

    def __init__(self, spark: SparkSession, sf_dir: str, before: str):
        from pyspark.sql import functions as F

        # dated_trade_edges_sym = fwd ∪ mirror; build the halves here
        # so only fwd is cached (mirror = projection)
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.graph.pagerank import graph_invariants

        t = load_tables(spark, sf_dir)
        # r13 (r12 VERDICT item 1): the caches here are re-read by every
        # loop iteration downstream, and .cache() FREEZES whatever layout
        # the final AQE-coalesced shuffle happened to pick — for a
        # tens-of-MB distinct output that can be ~1 partition, serializing
        # every downstream prologue stage (the driver measured 34 s @32
        # cores vs 10 s @8: more cores, more forfeited parallelism). An
        # explicit round-robin repartition to the session's parallelism
        # pins an even, core-count-matched layout before the freeze;
        # scale-adaptive because defaultParallelism is the cluster width.
        par = spark.sparkContext.defaultParallelism
        self._fwd = (
            t["orders"]
            .where(F.col("o_orderdate") < F.lit(before))
            .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
            .select(
                F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
            )
            .distinct()
            .repartition(par)
            .cache()
        )
        e = self._fwd.unionByName(
            self._fwd.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        self.verts, e_deg, self.danglers = graph_invariants(e, symmetric=True)
        self.e_deg = e_deg.cache()

    def pre(self):
        return self.verts, self.e_deg, self.danglers

    def release(self) -> None:
        for df in (self.e_deg, self._fwd):
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass


@register("g_pagerank_incremental", _incr_pr_oracle())
def g_pagerank_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-start incremental PageRank: converge on the pre-cutoff graph, then only 3 maintenance iterations over the full graph; top-20 ranks."""
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.plans.graphq import trade_graph_invariants

    bpre = _DatedPre(spark, sf_dir, PR_CUTOFF)
    r_base = pagerank(
        bpre.e_deg.select("src", "dst"),
        max_iter=PR_BASE_ITERS,
        pre=bpre.pre(),
        symmetric=True,
    )
    bpre.release()  # r_base is checkpoint-backed by loop exit
    ranks = pagerank(
        trade_edges_sym(spark, sf_dir),
        max_iter=PR_DELTA_ITERS,
        pre=trade_graph_invariants(spark, sf_dir),
        init_ranks=r_base,
        symmetric=True,
    )
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# r10 (r9 VERDICT item 7): the PRODUCTION shape of incremental
# PageRank. g_pagerank_incremental recomputes its converged base every
# run; a real deployment persists the converged rank vector and serves
# each maintenance batch off the persisted state. Here the base ranks
# are committed ONCE per dataset as a versioned lakehouse table
# (lakehouse/versioned.py — manifest-pinned snapshot, time-travelable,
# vacuum-safe), and the composed query reads them back as the warm
# start for the 3 maintenance iterations. The parquet round-trip
# preserves IEEE-754 doubles bit-exactly, so the composition is
# bit-identical to the recompute-every-time query and SHARES its
# oracle string verbatim (the dedup_flood_clusters device). The
# persisted table is the graph↔lakehouse integration the two tiers
# were built for: rank state at version N is a reproducible snapshot
# (tests/test_versioned_pr.py time-travels it).
#
# Scale: the maintenance run's cost is 3 iterations + one |V|-row
# parquet scan — the base's 6-iteration chain amortizes across every
# batch served from the table, and each batch can commit its refreshed
# ranks as version N+1 (append-only history, old versions vacuumable).
# ---------------------------------------------------------------------------
def ensure_prbase(spark: SparkSession, sf_dir: str) -> str:
    """Commit the converged pre-cutoff base ranks as the versioned
    ``prbase`` table if this dataset hasn't yet (idempotent; racing
    runs commit identical content). Returns the table root.

    Exposed so bench.py's warm-up can pre-build the snapshot: the
    timed ``g_pagerank_warmstart_lakehouse`` run then always measures
    the 3-iteration maintenance path regardless of ambient /tmp state
    (r10 ADVICE — cold-cache rounds were silently paying the one-time
    6-iteration base build inside the query timing)."""
    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.lakehouse.versioned import (
        ConcurrentCommitError,
        committed_versions,
        write_version,
    )
    from erkg_tutorials_spark.plans.lakeops import _versioned_root

    root = _versioned_root(sf_dir, "prbase", evict=True)
    if not committed_versions(root):
        bpre = _DatedPre(spark, sf_dir, PR_CUTOFF)
        try:
            write_version(
                pagerank(
                    bpre.e_deg.select("src", "dst"),
                    max_iter=PR_BASE_ITERS,
                    pre=bpre.pre(),
                    symmetric=True,
                ),
                root,
                mode="overwrite",
            )
        except ConcurrentCommitError:
            pass  # a racing run committed the identical base; read it
        finally:
            bpre.release()
    return root


@register("g_pagerank_warmstart_lakehouse", _incr_pr_oracle())
def g_pagerank_warmstart_lakehouse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental PageRank served from PERSISTED base ranks: converged pre-cutoff ranks live in a versioned lakehouse table; maintenance reads them back as the warm start."""
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.lakehouse.versioned import read_version
    from erkg_tutorials_spark.plans.graphq import trade_graph_invariants

    root = ensure_prbase(spark, sf_dir)
    ranks = pagerank(
        trade_edges_sym(spark, sf_dir),
        max_iter=PR_DELTA_ITERS,
        pre=trade_graph_invariants(spark, sf_dir),
        init_ranks=read_version(spark, root),
        symmetric=True,
    )
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Diameter lower bound via the classic double-BFS sweep: BFS from a
# hash-picked start, then BFS from the farthest vertex found — the
# second eccentricity is the standard tight diameter lower bound
# (exact on trees, near-exact on most real graphs). Each BFS is a
# min-relaxation over the cached edge table (the CC label-prop shape);
# unreached vertices stay absent, so the bound is per-component of the
# start vertex. Early-exit: in unweighted BFS a vertex's distance is
# final on first assignment, so the loop stops when the reached set
# stops growing.
# ---------------------------------------------------------------------------
BFS_ROUNDS = 10


def _bfs_chain(p: str, rounds: int, init: str) -> str:
    parts = [f"""
    {p}d0 AS MATERIALIZED ({init})"""]
    for i in range(1, rounds + 1):
        parts.append(f"""
    {p}d{i} AS MATERIALIZED (
      SELECT id, MIN(d) AS d FROM (
        SELECT id, d FROM {p}d{i - 1}
        UNION ALL
        SELECT e.dst AS id, p.d + 1 AS d
        FROM {p}d{i - 1} p JOIN edges e ON e.src = p.id
      ) u GROUP BY id
    )""")
    return ",".join(parts)


def _diameter_oracle() -> str:
    R = BFS_ROUNDS
    return (
        _SYM_EDGES_CTE
        + """,
    src0 AS MATERIALIZED (
      SELECT id FROM verts ORDER BY md5('diam:' || id), id LIMIT 1
    ),"""
        + _bfs_chain("a", R, "SELECT id, 0 AS d FROM src0")
        + f""",
    far1 AS MATERIALIZED (
      SELECT id, d FROM ad{R} ORDER BY d DESC, id LIMIT 1
    ),"""
        + _bfs_chain("b", R, "SELECT id, 0 AS d FROM far1")
        + f""",
    far2 AS MATERIALIZED (
      SELECT id, d FROM bd{R} ORDER BY d DESC, id LIMIT 1
    )
    SELECT CAST(1 AS INTEGER) AS phase, s.id AS source,
           f.id AS farthest, CAST(f.d AS BIGINT) AS ecc
    FROM src0 s CROSS JOIN far1 f
    UNION ALL
    SELECT CAST(2 AS INTEGER) AS phase, f1.id AS source,
           f2.id AS farthest, CAST(f2.d AS BIGINT) AS ecc
    FROM far1 f1 CROSS JOIN far2 f2
    """
    )


def _bfs(edges: DataFrame, src_1row: DataFrame, rounds: int) -> DataFrame:
    """Frontier BFS distances from a 1-row source frame.

    Only the NEW layer joins the edge table each round (in unweighted
    BFS a vertex's distance is final on first assignment), so round
    cost tracks |frontier|·deg, not |reached|·deg — on a small-
    diameter graph the full-relax variant re-joins nearly all of |V|
    for every late round (measured 24 s → frontier version at sf0.1;
    the DuckDB oracle keeps the min-relax unrolling, which computes
    the identical distance table). Frontier/visited broadcasts are
    the betweenness gate's documented |V|-row class."""
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.ckpt import checkpoint
    from erkg_tutorials_spark.graph.loop_confs import iterate

    d0 = checkpoint(src_1row.select("id", F.lit(0).alias("d")))
    frontier0 = checkpoint(src_1row.select("id"))

    def step(i, frontier, d, edges):
        nxt = (
            edges.join(
                vhint(frontier.select(F.col("id").alias("src"))),
                "src",
            )
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        frontier = yield nxt.join(d, "id", "left_anti")
        yield d.unionByName(
            frontier.select("id", F.lit(i + 1).cast("int").alias("d"))
        )

    # an empty frontier means reach stopped growing: the layers are final
    (_, d), _ = iterate(
        step, (frontier0, d0), (edges,), rounds=rounds, size=edges.count(),
        until=lambda _i, frontier, _d: frontier.isEmpty(),
        owned=(frontier0, d0),
    )
    return d


@register("g_diameter_bound", _diameter_oracle())
def g_diameter_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-BFS diameter lower bound of the trade graph: eccentricity from a hash-picked start, then from its farthest vertex (phase, source, farthest, ecc)."""
    from pyspark.sql import functions as F

    edges = trade_edges_sym(spark, sf_dir)
    verts = edges.select(F.col("src").alias("id")).distinct()
    src0 = (
        verts.orderBy(F.md5(F.concat(F.lit("diam:"), F.col("id"))), "id")
        .limit(1)
        .localCheckpoint(eager=True)
    )
    ad = _bfs(edges, src0, BFS_ROUNDS)
    far1 = (
        ad.orderBy(F.desc("d"), F.asc("id")).limit(1)
        .localCheckpoint(eager=True)
    )
    bd = _bfs(edges, far1.select("id"), BFS_ROUNDS)
    far2 = bd.orderBy(F.desc("d"), F.asc("id")).limit(1)
    p1 = src0.crossJoin(
        far1.select(F.col("id").alias("farthest"), F.col("d").alias("ecc"))
    ).select(
        F.lit(1).alias("phase"),
        F.col("id").alias("source"),
        "farthest",
        F.col("ecc").cast("long").alias("ecc"),
    )
    p2 = far1.select(F.col("id").alias("source")).crossJoin(
        far2.select(F.col("id").alias("farthest"), F.col("d").alias("ecc"))
    ).select(
        F.lit(2).alias("phase"),
        "source",
        "farthest",
        F.col("ecc").cast("long").alias("ecc"),
    )
    return p1.unionByName(p2)


# ---------------------------------------------------------------------------
# Greedy graph coloring: Jones-Plassmann priority rounds — every
# round, each uncolored local-priority-minimum takes the smallest
# color its colored neighbors haven't used. One pass fills all color
# classes concurrently. See graph/coloring.py for the 100 TB notes.
# ---------------------------------------------------------------------------
COLORING_ROUNDS = 10


@register(
    "g_greedy_coloring",
    greedy_coloring_sql(_SYM_EDGES_CTE, rounds=COLORING_ROUNDS),
)
def g_greedy_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy distributed coloring of the trade graph via hash-derandomized Jones-Plassmann rounds (id, color)."""
    return greedy_coloring(
        trade_edges_sym(spark, sf_dir), rounds=COLORING_ROUNDS
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman 2002, public paper): the Pearson
# correlation of endpoint degrees over all ordered edges — the one-
# number answer to "do hubs attach to hubs?". On a symmetric edge
# table the two marginals coincide, so the correlation is the exact
# RATIONAL num/den with
#   num = M·Σjk − (Σj)²,  den = M·Σj² − (Σj)²
# (j, k = endpoint degrees, M = ordered edge count) — no square root,
# ALL arithmetic runs exactly in DECIMAL(38,0)/HUGEINT (the HLL
# device): M·Σjk overflows BIGINT already at the 10x sf0.1 step
# (measured, -1.02e19) and fits 38 digits to beyond sf100. num/den
# are emitted as DOUBLEs - the nearest conversion from the SAME exact
# integer is bit-identical in both engines, and below 2^53 (every
# driver scale) the doubles ARE the exact integers. The trade
# graph is bipartite customer↔supplier, so r is strongly negative —
# high-degree suppliers attach to low-degree customers.
#
# Scale: degree table = one groupBy(src); endpoint join = two hash
# joins of edges against the degree table (dst side is the same
# table re-keyed); one global aggregate. No window, no cross product.
# ---------------------------------------------------------------------------


@register(
    "g_degree_assortativity",
    _SYM_EDGES_CTE
    + """,
    deg AS MATERIALIZED (
      SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS k FROM edges GROUP BY src
    ),
    ek AS (
      SELECT da.k AS j, db.k AS k
      FROM edges e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS m,
             CAST(SUM(CAST(j AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sj,
             CAST(SUM(CAST(j AS DECIMAL(38,0)) * CAST(j AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sjj,
             CAST(SUM(CAST(j AS DECIMAL(38,0)) * CAST(k AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS sjk
      FROM ek
    )
    SELECT CAST(m AS BIGINT) AS m_edges,
           CAST(sj AS BIGINT) AS s_deg,
           CAST(m * sjk - sj * sj AS DOUBLE) AS num_scaled,
           CAST(m * sjj - sj * sj AS DOUBLE) AS den_scaled,
           CAST(ROUND(CAST(m * sjk - sj * sj AS DOUBLE) * 1000000.0
                / CAST(m * sjj - sj * sj AS DOUBLE), 0) AS BIGINT) AS r_ppm
    FROM s
    """,
)
def g_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph: exact-rational Pearson correlation of endpoint degrees over ordered edges (num/den + ppm)."""
    from pyspark.sql import functions as F

    edges = trade_edges_sym(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("k")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    ek = (
        edges.join(deg.select(F.col("id").alias("src"),
                              F.col("k").alias("j")), "src")
        .join(
            deg.select(F.col("id").alias("dst"), F.col("k").alias("kk")),
            "dst",
        )
        .select("j", "kk")
    )
    s = ek.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum(dec("j")).cast("decimal(38,0)").alias("sj"),
        F.sum(dec("j") * dec("j")).cast("decimal(38,0)").alias("sjj"),
        F.sum(dec("j") * dec("kk")).cast("decimal(38,0)").alias("sjk"),
    )
    num = F.col("m") * F.col("sjk") - F.col("sj") * F.col("sj")
    den = F.col("m") * F.col("sjj") - F.col("sj") * F.col("sj")
    return s.select(
        F.col("m").cast("long").alias("m_edges"),
        F.col("sj").cast("long").alias("s_deg"),
        num.cast("double").alias("num_scaled"),
        den.cast("double").alias("den_scaled"),
        F.round(
            num.cast("double") * 1000000.0 / den.cast("double"), 0
        ).cast("long").alias("r_ppm"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test (Mann 1945 / Kendall 1975, public): the
# nonparametric "is this series trending?" statistic an ingest
# monitor runs beside CUSUM (changepoints) and the ACF (seasonality).
# S = Σ_{i<j} sign(x_j − x_i) over the per-type daily counts, with
# the tie-corrected variance kept as the exact 18-scaled integer
# var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5). Pure integers end to end.
#
# Scale: the pairwise upper triangle is over the DAILY table (days²
# per type, not events²) — the same tiny-series contract as the ACF's
# range self-join; the tie term is one groupBy over the same table.
# ---------------------------------------------------------------------------


@register(
    "events_mann_kendall",
    """
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM d a JOIN d b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY 1
    ),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM d
      GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (
        SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
        FROM d GROUP BY event_type, x
      ) g WHERE t > 1 GROUP BY event_type
    )
    SELECT n.event_type, n.n_days, s.s_stat,
           n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
             - COALESCE(t.tie_term, 0) AS var18
    FROM n JOIN s USING (event_type)
    LEFT JOIN ties t ON t.event_type = n.event_type
    """,
)
def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend statistic per event type over daily counts: exact S plus the 18-scaled tie-corrected variance."""
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    d = (
        t["events"]
        .groupBy("event_type", F.expr("ts_sec div 86400").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    a = d.select("event_type", F.col("day").alias("a_day"),
                 F.col("x").alias("a_x"))
    b = d.select("event_type", F.col("day").alias("b_day"),
                 F.col("x").alias("b_x"))
    s = (
        a.join(b, ["event_type"])
        .where(F.col("b_day") > F.col("a_day"))
        .select(
            "event_type",
            F.when(F.col("b_x") > F.col("a_x"), 1)
            .when(F.col("b_x") < F.col("a_x"), -1)
            .otherwise(0)
            .alias("sgn"),
        )
        .groupBy("event_type")
        .agg(F.sum("sgn").cast("long").alias("s_stat"))
    )
    n = d.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    ties = (
        d.groupBy("event_type", "x")
        .agg(F.count("*").cast("long").alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    return (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (
                F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5)
                - F.coalesce("tie_term", F.lit(0).cast("long"))
            ).alias("var18"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted PageRank over the trade-count weighted graph: identical
# damped power iteration to g5_pagerank_top20, but each neighbor's
# share is its edge weight over the source's total weight instead of
# 1/out_degree — the GDS relationshipWeightProperty variant. The
# symmetric weighted graph has no danglers (pre-checked by the
# unweighted family's invariants) so the dangling term is omitted on
# both sides, exactly as in the unweighted oracle. 6dp rounding at
# the very end absorbs double summation-order noise (the family's
# established device: partial sums sit ~1e-13 off, 7 orders below
# the rounding grain).
#
# Scale: the per-edge weight share w/ws joins once (loop-invariant,
# memoized weighted edge table); every iteration is then one
# ranks⋈edges hash join + one map-side-combinable contrib sum — the
# unweighted loop's exact shuffle shape, same checkpoint chain.
# ---------------------------------------------------------------------------
WPR_ITERS = 6


def _wpr_oracle() -> str:
    parts = [
        _WSYM_EDGES_CTE.rstrip()
        + """,
    wverts AS MATERIALIZED (SELECT DISTINCT src AS id FROM wedges),
    wnn AS MATERIALIZED (SELECT COUNT(*) AS n FROM wverts),
    wsrc AS MATERIALIZED (
      SELECT src, CAST(SUM(w) AS BIGINT) AS ws FROM wedges GROUP BY src
    ),
    wed AS MATERIALIZED (
      SELECT e.src, e.dst, e.w, s.ws FROM wedges e JOIN wsrc s USING (src)
    ),
    wpr0 AS MATERIALIZED (
      SELECT id, 1.0::DOUBLE / nn.n AS rank FROM wverts CROSS JOIN wnn nn
    )"""
    ]
    for i in range(1, WPR_ITERS + 1):
        parts.append(f"""
    wpr{i} AS MATERIALIZED (
      SELECT v.id,
             0.15::DOUBLE / nn.n
               + (1.0::DOUBLE - 0.15::DOUBLE)
                 * COALESCE(c.contrib, 0.0::DOUBLE) AS rank
      FROM wverts v CROSS JOIN wnn nn LEFT JOIN (
        SELECT e.dst AS id, SUM(p.rank * e.w / e.ws) AS contrib
        FROM wpr{i - 1} p JOIN wed e ON p.id = e.src
        GROUP BY e.dst
      ) c ON c.id = v.id
    )""")
    return ",".join(parts) + f"""
    SELECT id, ROUND(rank, 6) AS rank FROM wpr{WPR_ITERS}
    ORDER BY rank DESC, id ASC LIMIT 20
    """


@register("g_pagerank_weighted", _wpr_oracle())
def g_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 weighted PageRank over trade-count edge weights: neighbor shares are w/sum(w) per source instead of 1/out-degree."""
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.plans.graphq import trade_wedges_sym

    ranks = pagerank(
        trade_wedges_sym(spark, sf_dir),
        max_iter=WPR_ITERS,
        weight="w",
        # mirrored union of strictly-positive count weights: the graph
        # stays symmetric after the w>0 filter
        symmetric=True,
    )
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )
