"""Graph query surface: k-hop neighborhood expansion (SURVEY.md §2.7
G1-G3/U1) over a bipartite customer↔supplier trade graph derived from
orders ⋈ lineitem.

Mirrors the reference's "friends of friends" filter
(/root/reference/src/senzing_pipeline.py:373-397): exact-match seeds →
1-hop → 2-hop from the cumulative reach → distinct union, with minimal
hop labels. Vertex ids are namespaced strings (``c:<custkey>`` /
``s:<suppkey>``) exactly like the reference keeps entity ids distinct
from record ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.graph.coloring import greedy_coloring, greedy_coloring_sql
from erkg_tutorials_spark.graph.hints import vhint
from erkg_tutorials_spark.graph.khop import k_hop_labeled
from erkg_tutorials_spark.graph.mis import luby_mis, luby_mis_sql
from erkg_tutorials_spark.graph.mst import boruvka_forest, boruvka_forest_sql
from erkg_tutorials_spark.plans.oracle_pr import (
    cc_label_prop_sql,
    pagerank_iterations_sql,
    ppr_iterations_sql,
)
from erkg_tutorials_spark.plans.registry import register


# Materialized-view memo for the graph tier: six registry queries
# (k-hop, flagship, CC, PageRank, shortestPaths, labelPropagation,
# motif) consume the same distinct directed edge table. Re-deriving it
# per query re-runs the orders⋈lineitem shuffle + distinct each time —
# the per-query .cache() calls this replaces only ever helped within
# one query. At warehouse scale this table IS a materialized view
# (bucketed by src); here the session-lifetime cache (plans/memo.py —
# swept across sessions, releasable via memo.release) plays that role.
def trade_edges_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier edge table, cached once per session."""
    from erkg_tutorials_spark.plans.memo import memoized

    return memoized(
        spark,
        sf_dir,
        "trade_edges_fwd",
        lambda: trade_edges_directed(load_tables(spark, sf_dir)).distinct(),
    )


def trade_edges_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirrored (symmetric) view over the cached distinct edge table.
    The mirror is a projection — caching it too would double memory."""
    fwd = trade_edges_fwd(spark, sf_dir)
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def trade_graph_invariants(spark: SparkSession, sf_dir: str):
    """(verts, e_deg, danglers) for the symmetric trade graph —
    the loop-invariant tables every PageRank-family query (global
    PageRank, personalized PageRank) consumes. Building them per
    query re-runs the mirror + out-degree shuffles each time; here
    verts and e_deg are session memos, built once per (application,
    sf_dir), exactly like the edge table itself. The graph is
    symmetric, so verts is the out-degree key set and danglers is an
    empty frame (graph/pagerank.py::graph_invariants)."""
    from erkg_tutorials_spark.graph.pagerank import graph_invariants
    from erkg_tutorials_spark.plans.memo import memoized

    verts, e_deg, danglers = graph_invariants(
        trade_edges_sym(spark, sf_dir), symmetric=True
    )
    return (
        memoized(spark, sf_dir, "trade_sym_verts", lambda: verts),
        memoized(spark, sf_dir, "trade_sym_e_deg", lambda: e_deg),
        danglers,
    )


def trade_edges_directed(t: dict) -> DataFrame:
    """One row per lineitem, oriented customer→supplier. For undirected
    consumers (connected components) this single orientation IS the
    complete edge set — handing them the bidirectional union would just
    double the canonicalization input."""
    return (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
    )


def seed_customers(t: dict) -> DataFrame:
    return (
        t["customer"]
        .where(F.col("c_custkey") % 37 == 0)
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("id"))
    )


_EDGE_CTE = """
    WITH seeds AS (
      SELECT 'c:' || c_custkey AS id FROM customer WHERE c_custkey % 37 = 0
    ),
    raw AS (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM raw
      UNION ALL
      SELECT s AS src, c AS dst FROM raw
    )
"""


@register(
    "g3_two_hop_reach",
    _EDGE_CTE
    + """,
    hop1 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN seeds ON e.src = seeds.id
    ),
    r01 AS (SELECT id FROM seeds UNION SELECT id FROM hop1),
    hop2 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN r01 ON e.src = r01.id
    ),
    all_hops AS (
      SELECT id, 0 AS hop FROM seeds
      UNION ALL SELECT id, 1 FROM hop1
      UNION ALL SELECT id, 2 FROM hop2
    )
    SELECT id, CAST(MIN(hop) AS BIGINT) AS hop FROM all_hops GROUP BY id
    """,
)
def g3_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop friends-of-friends reach with minimal hop labels."""
    t = load_tables(spark, sf_dir)
    return k_hop_labeled(trade_edges_sym(spark, sf_dir), seed_customers(t), k=2)


@register(
    "flagship_reach_segments",
    _EDGE_CTE
    + """,
    hop1 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN seeds ON e.src = seeds.id
    ),
    r01 AS (SELECT id FROM seeds UNION SELECT id FROM hop1),
    hop2 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN r01 ON e.src = r01.id
    ),
    reach AS (
      SELECT DISTINCT id FROM (
        SELECT id FROM seeds UNION ALL SELECT id FROM hop1 UNION ALL SELECT id FROM hop2
      ) u
    ),
    reached_cust AS (
      SELECT c.* FROM customer c JOIN reach ON 'c:' || c.c_custkey = reach.id
    ),
    seg AS (
      SELECT c_mktsegment, COUNT(*) AS n_customers FROM reached_cust GROUP BY 1
    )
    SELECT c_mktsegment, n_customers,
           ROUND(n_customers / (1.0 * SUM(n_customers) OVER ()), 6) AS prob
    FROM seg
    """,
)
def flagship_reach_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: suspicious-customer 2-hop reach → market-segment
    distribution. Exercises scan, filter, equi-join, graph expansion,
    aggregation, and a windowed ratio in one plan (SURVEY.md §7 Phase 0).
    """
    t = load_tables(spark, sf_dir)
    reach = k_hop_labeled(trade_edges_sym(spark, sf_dir), seed_customers(t), k=2)
    reached_cust = t["customer"].join(
        reach, F.concat(F.lit("c:"), F.col("c_custkey")) == reach["id"]
    )
    seg = reached_cust.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    w = Window.partitionBy()
    return seg.withColumn(
        "prob", F.round(F.col("n_customers") / F.sum("n_customers").over(w), 6)
    )


# Shared oracle scaffolding: the distinct customer↔supplier edge set,
# mirrored to symmetric — identical to trade_edges_directed(t).distinct()
# + reverse union on the Spark side.
_SYM_EDGES_CTE = """
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT c AS src, s AS dst FROM raw
      UNION ALL
      SELECT s AS src, c AS dst FROM raw
    ),
    verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges)
"""


# ---------------------------------------------------------------------------
# G6 — connected components. The Spark side iterates large-star/
# small-star to a fixpoint; the oracle unrolls min-label propagation
# (20 rounds ≫ the trade graph's diameter — an insufficient bound
# would surface as a hash mismatch, so it is checked, not assumed).
# ---------------------------------------------------------------------------
@register(
    "g6_connected_components",
    _SYM_EDGES_CTE
    + ","
    + cc_label_prop_sql(rounds=20)
    + """
    SELECT lbl AS component, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l20 GROUP BY lbl
    """,
)
def g6_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component sizes of the customer↔supplier trade graph."""
    from erkg_tutorials_spark.graph.connected_components import connected_components

    # the trade edge table is distinct with src "c:…" < dst "s:…" by
    # construction — already canonical, skip that shuffle
    cc = connected_components(trade_edges_fwd(spark, sf_dir), input_canonical=True)
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("component"))
    )


# ---------------------------------------------------------------------------
# G5 substrate — PageRank. Fixed 8-iteration damped PageRank is
# SQL-expressible by unrolling the loop (oracle_pr.py); dangling mass
# is omitted in the oracle because the mirrored edge set is symmetric
# (no vertex lacks out-edges — the Spark side proves this with its
# danglers.isEmpty() pre-check and then also adds literal 0.0).
# ---------------------------------------------------------------------------
@register(
    "g5_pagerank_top20",
    _SYM_EDGES_CTE
    + ","
    + pagerank_iterations_sql(iters=8)
    + """
    SELECT id, ROUND(rank, 6) AS rank FROM pr8
    ORDER BY rank DESC, id ASC LIMIT 20
    """,
)
def g5_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank vertices from a checkpoint-chained DataFrame power iteration."""
    from erkg_tutorials_spark.graph.pagerank import pagerank

    ranks = pagerank(
        trade_edges_sym(spark, sf_dir),
        max_iter=8,
        pre=trade_graph_invariants(spark, sf_dir),
        symmetric=True,
    )
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph-analytics parity-plus: per-vertex triangle count over the
# co-order part graph (parts appearing in the same order are linked).
# Exercises the PropertyGraph facade's triangleCount — three equi-joins
# over the canonical edge set, fully SQL-expressible → full oracle.
# ---------------------------------------------------------------------------
@register(
    "g_triangle_count",
    """
    WITH pp AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM pp ab
      JOIN pp bc ON ab.v = bc.u
      JOIN pp ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    ids AS (
      SELECT a AS id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT id, CAST(COUNT(*) AS BIGINT) AS count
    FROM ids GROUP BY id
    """,
)
def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices with >=1 triangle and their triangle counts.

    Shares the memoized canonical co-order edge set with g_ktruss /
    g_link_prediction (``part_coorder_edges``) and counts via the
    edge-iterator adjacency-intersection plan (graph/triangles.py);
    the facade verb path (from_edges().triangleCount()) runs the same
    algorithm and stays covered by the fixture goldens. The memoized
    clustering adjacency arrays feed the enumeration directly (the
    id-order out-arrays are a per-row filter of them —
    triangles._oriented_adjacency), so the plan has no adjacency
    groupBy exchange of its own."""
    from erkg_tutorials_spark.graph.triangles import vertex_triangle_counts

    return vertex_triangle_counts(
        part_coorder_edges(spark, sf_dir),
        nbrs=coorder_nbrs_cached(spark, sf_dir),
    ).select("id", "count")


# ---------------------------------------------------------------------------
# Motif search (GraphFrames DSL, graph/frames.py find): two-relation
# graph — customer→supplier trade edges ∪ supplier→nation location
# edges — queried with "(a)-[]->(b); (b)-[]->(c)" and aggregated to
# customers-reaching-each-nation. Exercises the motif compiler
# end-to-end under the hash-match gate.
# ---------------------------------------------------------------------------
@register(
    "g_motif_reach",
    """
    WITH trade AS (
      SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    loc AS (
      SELECT 's:' || s_suppkey AS src, 'n:' || s_nationkey AS dst FROM supplier
    ),
    edges AS (SELECT * FROM trade UNION ALL SELECT * FROM loc),
    paths AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
    )
    SELECT c AS nation, CAST(COUNT(DISTINCT a) AS BIGINT) AS n_customers
    FROM paths GROUP BY c
    """,
)
def g_motif_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with a 2-edge path into each nation vertex."""
    from erkg_tutorials_spark.graph.frames import from_edges

    t = load_tables(spark, sf_dir)
    trade = trade_edges_fwd(spark, sf_dir)
    loc = t["supplier"].select(
        F.concat(F.lit("s:"), F.col("s_suppkey")).alias("src"),
        F.concat(F.lit("n:"), F.col("s_nationkey")).alias("dst"),
    )
    g = from_edges(trade.unionByName(loc))
    m = g.find("(a)-[]->(b); (b)-[]->(c)")
    return (
        m.groupBy(F.col("c")["id"].alias("nation"))
        .agg(F.count_distinct(F.col("a")["id"]).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# shortestPaths (GraphFrames verb): directed distances from every
# vertex toward landmark vertices over the trade graph. Spark runs
# min-distance relaxation to a fixpoint; the oracle unrolls 20
# relaxation rounds (>= directed eccentricity, checked by the match).
# ---------------------------------------------------------------------------
def _sp_oracle() -> str:
    from erkg_tutorials_spark.plans.oracle_pr import shortest_paths_sql

    return (
        _SYM_EDGES_CTE
        + """,
    lms AS (
      SELECT 'c:' || c_custkey AS lm FROM customer
      WHERE c_custkey % 500 = 0 AND c_custkey <= 1500
    ),
"""
        + shortest_paths_sql(rounds=20)
        + """
    SELECT id, lm AS landmark, CAST(dist AS BIGINT) AS dist FROM d20
    """
    )


@register("g_shortest_paths", _sp_oracle())
def g_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted BFS shortest-path distances from 3 landmark vertices via frontier expansion."""
    from erkg_tutorials_spark.graph.frames import from_edges

    t = load_tables(spark, sf_dir)
    edges = trade_edges_sym(spark, sf_dir)
    # bounded landmark set (3 ids, present at every sf): landmarks are
    # an API-level list in GraphFrames too — the state table scales as
    # |V| x |landmarks|, so the query keeps the list small by design
    lms = [
        r["lm"]
        for r in t["customer"]
        .where((F.col("c_custkey") % 500 == 0) & (F.col("c_custkey") <= 1500))
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("lm"))
        .collect()
    ]
    g = from_edges(edges)
    sp = g.shortestPaths(lms)
    return sp.select("id", "landmark", F.col("dist").cast("long").alias("dist"))


# ---------------------------------------------------------------------------
# labelPropagation (GraphFrames verb): deterministic synchronous LPA,
# fixed 3 rounds on BOTH engines (sync LPA may oscillate, so the
# contract is fixed-round determinism, not convergence).
# ---------------------------------------------------------------------------
def _lpa_oracle() -> str:
    from erkg_tutorials_spark.plans.oracle_pr import label_propagation_sql

    return (
        _SYM_EDGES_CTE
        + ","
        + label_propagation_sql(rounds=3)
        + """
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lp3 GROUP BY lbl
    """
    )


@register("g_label_propagation", _lpa_oracle())
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation: 5 rounds of min-label majority voting per vertex."""
    from erkg_tutorials_spark.graph.frames import from_edges

    lp = from_edges(trade_edges_sym(spark, sf_dir)).labelPropagation(maxIter=3)
    return (
        lp.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"))
    )


# ---------------------------------------------------------------------------
# k-core decomposition (graph/kcore.py): the maximal subgraph where
# every vertex keeps ≥ k trade partners. Spark peels to a fixpoint
# (raises if > 6 rounds); the oracle replays a fixed 6-round peel —
# rounds past the fixpoint are no-ops, so the hash gate also verifies
# the convergence claim.
# ---------------------------------------------------------------------------
def _kcore_oracle(k: int = 40, rounds: int = 6) -> str:
    from erkg_tutorials_spark.graph.kcore import k_core_peel_sql

    return (
        _SYM_EDGES_CTE
        + ","
        + k_core_peel_sql(k=k, rounds=rounds)
        + f"""
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
    FROM core{rounds} GROUP BY src
    """
    )


@register("g_kcore", _kcore_oracle())
def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the 40-core of the trade graph with in-core degree."""
    from erkg_tutorials_spark.graph.kcore import k_core

    return k_core(trade_edges_sym(spark, sf_dir), k=40, max_rounds=6)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (graph/hits.py). On the bipartite directed
# trade graph every intermediate score is an exact BIGINT (sums of
# integers starting from 1), so the unrolled oracle matches without
# any float-parity argument; the single end normalization divides by
# the side's max and rounds to 6dp on both engines.
# ---------------------------------------------------------------------------
HITS_ITERS = 3
HITS_TOP = 15


def _hits_oracle() -> str:
    from erkg_tutorials_spark.graph.hits import hits_iterations_sql

    return (
        f"""
    WITH fedges AS MATERIALIZED (
      SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),"""
        + hits_iterations_sql(iters=HITS_ITERS)
        + f""",
    sides AS (
      SELECT 'hub' AS side, id, h AS score FROM h{HITS_ITERS}
      UNION ALL
      SELECT 'authority' AS side, id, a AS score FROM a{HITS_ITERS}
    ),
    mx AS (SELECT side, MAX(score) AS mxs FROM sides GROUP BY 1),
    r AS (
      SELECT b.side, b.id, ROUND(b.score * 1.0 / m.mxs, 6) AS score,
             ROW_NUMBER() OVER (PARTITION BY b.side ORDER BY b.score DESC, b.id) AS rnk
      FROM sides b JOIN mx m ON m.side = b.side
    )
    SELECT side, id, score, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {HITS_TOP}
    """
    )


@register("g_hits_top", _hits_oracle())
def g_hits_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top hubs (customers) and authorities (suppliers) by HITS mass,
    max-normalized per side. Ranking happens on the exact integer
    scores — a tie in displayed 6dp scores can never flip the cut."""
    from erkg_tutorials_spark.graph.hits import hits

    raw = hits(trade_edges_fwd(spark, sf_dir), iters=HITS_ITERS)
    mx = raw.groupBy("side").agg(F.max("score").alias("mxs"))
    w = Window.partitionBy("side").orderBy(F.desc("score"), F.asc("id"))
    return (
        raw.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= HITS_TOP)
        .join(F.broadcast(mx), "side")
        .select(
            "side",
            "id",
            F.round(F.col("score") / F.col("mxs"), 6).alias("score"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (random walk with restart) from a seed
# customer set — "entities most related to THIS watchlist", the
# recommendation/relevance twin of the global g5 ranking. Same loop
# machinery and cost profile as pagerank; only the teleport vector
# changes, so the oracle is the same unrolled CTE chain with a
# seed-weighted reset term.
# ---------------------------------------------------------------------------
PPR_SEED_MOD = 97
PPR_ITERS = 8


def _ppr_watchlist_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_tables(spark, sf_dir)["customer"]
        .where(F.col("c_custkey") % PPR_SEED_MOD == 0)
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("id"))
    )


def ppr_watchlist_tp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watchlist's teleport vector is an index artifact (like the
    degree-joined edge table): three jobs to derive, seed-set invariant
    per sf_dir — memoized so repeated scoring pays them once, and
    module-level so the bench warms it under shared_materializations
    like its sibling invariants. Built by the same
    graph/pagerank.py::teleport_vector that personalized_pagerank()
    uses without a memo, so the oracle's float replay is unchanged."""
    from erkg_tutorials_spark.graph.pagerank import teleport_vector
    from erkg_tutorials_spark.plans.memo import memoized

    def build_tp():
        return teleport_vector(
            _ppr_watchlist_seeds(spark, sf_dir),
            trade_graph_invariants(spark, sf_dir)[0],
        )

    return memoized(spark, sf_dir, "ppr_watchlist_tp", build_tp)


@register(
    "g_ppr_watchlist",
    _SYM_EDGES_CTE
    + f""",
    seeds AS (
      SELECT 'c:' || c_custkey AS id FROM customer WHERE c_custkey % {PPR_SEED_MOD} = 0
    ),"""
    + ppr_iterations_sql(iters=PPR_ITERS)
    + f"""
    SELECT id, ROUND(rank, 6) AS rank FROM ppr{PPR_ITERS}
    ORDER BY rank DESC, id ASC LIMIT 20
    """,
)
def g_ppr_watchlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a watchlist seed set, broadcast rank vector per iteration."""
    from erkg_tutorials_spark.graph.pagerank import personalized_pagerank

    ranks = personalized_pagerank(
        trade_edges_sym(spark, sf_dir),
        _ppr_watchlist_seeds(spark, sf_dir),
        max_iter=PPR_ITERS,
        pre=trade_graph_invariants(spark, sf_dir),
        tp=ppr_watchlist_tp_cached(spark, sf_dir),
    )
    return (
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# k-truss: dense-community peel over the co-order part graph (the
# triangle-bearing graph of this schema — the trade graph is
# bipartite and trivially triangle-free). Support peel to a checked
# fixpoint; oracle unrolls KTRUSS_ROUNDS rounds (post-fixpoint rounds
# are idempotent, so an insufficient bound = hash mismatch, and the
# Spark side additionally raises).
# ---------------------------------------------------------------------------
KTRUSS_K = 12
KTRUSS_ROUNDS = 8


def part_coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) distinct co-order part edges, memoized —
    shared by triangleCount and k-truss."""
    from erkg_tutorials_spark.plans.memo import memoized

    def build():
        li = load_tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_partkey")
        a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
        b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
        return (
            a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v").distinct()
        )

    return memoized(spark, sf_dir, "part_coorder_edges", build)


def _ktruss_oracle() -> str:
    parts = ["""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""]
    for i in range(1, KTRUSS_ROUNDS + 1):
        parts.append(f"""
    tri{i} AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM e{i - 1} ab JOIN e{i - 1} bc ON ab.v = bc.u
      JOIN e{i - 1} ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    sup{i} AS (
      SELECT u, v, COUNT(*) AS s FROM (
        SELECT a AS u, b AS v FROM tri{i}
        UNION ALL SELECT b, c FROM tri{i}
        UNION ALL SELECT a, c FROM tri{i}
      ) GROUP BY 1, 2
    ),
    e{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i - 1} e
      JOIN sup{i} s ON s.u = e.u AND s.v = e.v
      WHERE s.s >= {KTRUSS_K - 2}
    )""")
    return (
        ",".join(parts)
        + f"""
    SELECT u, v FROM e{KTRUSS_ROUNDS}
    """
    )


@register("g_ktruss", _ktruss_oracle())
def g_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges of the {KTRUSS_K}-truss of the co-order part graph."""
    from erkg_tutorials_spark.graph.ktruss import k_truss

    return k_truss(
        part_coorder_edges(spark, sf_dir),
        k=KTRUSS_K,
        max_rounds=KTRUSS_ROUNDS,
        nbrs0=coorder_nbrs_cached(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Link prediction over the co-order part graph: for a seed subset of
# parts, score non-adjacent candidates by common-neighbor count,
# Jaccard, and the resource-allocation index (Zhou et al. 2009,
# "Predicting missing links via local information" — RA = Σ 1/deg(z)
# over shared neighbors z; the division-only cousin of Adamic-Adar,
# chosen because Σ1/d is expressible with exact integer arithmetic
# while Σ1/ln(d) is not portable across libm implementations).
#
# Scale shape: the wedge expansion is seed-scoped — |seeds|·d̄² rows,
# not the full graph's Σd² (298M at sf0.1, growing quadratically with
# density). Seeds broadcast onto the adjacency scan; the only big
# shuffle is the (u,v) wedge aggregation, which partial-aggregates
# map-side. RA reciprocals are scaled to integers (1e12 div d) so the
# sum is associative — bit-identical under any partial-agg order.
# ---------------------------------------------------------------------------
LINKPRED_SEED_MOD = 53
LINKPRED_TOPK = 5
_RA_SCALE = 1_000_000_000_000


@register(
    "g_link_prediction",
    f"""
    WITH pp AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (SELECT u AS z, v AS x FROM pp UNION ALL SELECT v AS z, u AS x FROM pp),
    deg AS (SELECT z AS id, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z),
    seeds AS (SELECT p_partkey AS u FROM part WHERE p_partkey % {LINKPRED_SEED_MOD} = 0),
    wedges AS (
      SELECT su.x AS z, su.z AS u, zv.x AS v
      FROM adj su JOIN seeds s ON su.z = s.u
      JOIN adj zv ON zv.z = su.x
      WHERE zv.x <> su.z
    ),
    scored AS (
      SELECT w.u, w.v,
             CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM({_RA_SCALE} // dz.d) AS BIGINT) AS ra_scaled
      FROM wedges w JOIN deg dz ON dz.id = w.z
      GROUP BY w.u, w.v
    ),
    fresh AS (
      SELECT s.* FROM scored s
      LEFT JOIN pp e ON e.u = LEAST(s.u, s.v) AND e.v = GREATEST(s.u, s.v)
      WHERE e.u IS NULL
    ),
    ranked AS (
      SELECT f.u, f.v, f.cn,
             ROUND(f.ra_scaled / {float(_RA_SCALE)}, 6) AS ra,
             ROUND(f.cn / (du.d + dv.d - f.cn), 6) AS jaccard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY f.u
               ORDER BY f.cn DESC, f.ra_scaled DESC, f.v ASC) AS BIGINT) AS rnk
      FROM fresh f JOIN deg du ON du.id = f.u JOIN deg dv ON dv.id = f.v
    )
    SELECT u, v, cn, ra, jaccard, rnk FROM ranked WHERE rnk <= {LINKPRED_TOPK}
    """,
)
def g_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} predicted new co-order links per seed part."""
    pp = part_coorder_edges(spark, sf_dir)
    adj = pp.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        pp.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = adj.groupBy(F.col("z").alias("id")).agg(F.count("*").alias("d"))
    seeds = (
        load_tables(spark, sf_dir)["part"]
        .where(F.col("p_partkey") % LINKPRED_SEED_MOD == 0)
        .select(F.col("p_partkey").alias("u"))
    )
    # seed-scoped first hop: broadcast the seed set onto the adjacency
    su = adj.join(F.broadcast(seeds), adj.z == seeds.u, "left_semi").select(
        F.col("z").alias("u"), F.col("x").alias("z")
    )
    wedges = su.join(adj, "z").where(F.col("x") != F.col("u"))
    scored = (
        wedges.join(deg.select(F.col("id").alias("z"), "d"), "z")
        .groupBy("u", F.col("x").alias("v"))
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.expr(f"{_RA_SCALE} div d")).alias("ra_scaled"),
        )
    )
    fresh = scored.join(
        pp.select(
            F.least("u", "v").alias("cu"), F.greatest("u", "v").alias("cv")
        ),
        (F.least(scored.u, scored.v) == F.col("cu"))
        & (F.greatest(scored.u, scored.v) == F.col("cv")),
        "left_anti",
    )
    w = Window.partitionBy("u").orderBy(
        F.desc("cn"), F.desc("ra_scaled"), F.asc("v")
    )
    return (
        fresh.join(deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= LINKPRED_TOPK)
        .select(
            "u",
            "v",
            "cn",
            F.round(F.col("ra_scaled") / F.lit(float(_RA_SCALE)), 6).alias("ra"),
            F.round(F.col("cn") / (F.col("du") + F.col("dv") - F.col("cn")), 6).alias(
                "jaccard"
            ),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient: 2·tri(v) / (deg(v)·(deg(v)−1)) over
# the co-order part graph — the standard density-of-neighborhood
# measure. Triangles come from the same canonical u<v edge table the
# triangleCount facade uses (each triangle counted once per corner);
# the coefficient is a single integer division, so both engines agree
# exactly. One wedge-join shuffle + one groupBy; at 100 TB the same
# adaptive orientation trick triangleCount uses (max_deg vs sqrt(2m)
# worst-array bound, graph/triangles.py) bounds the join fan-out.
# ---------------------------------------------------------------------------
@register(
    "g_clustering_coeff",
    """
    WITH pp AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (SELECT u AS z, v AS x FROM pp UNION ALL SELECT v AS z, u AS x FROM pp),
    deg AS (SELECT z AS id, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY z),
    tri AS (
      SELECT ab.u AS a, ab.v AS b, bc.v AS c
      FROM pp ab
      JOIN pp bc ON ab.v = bc.u
      JOIN pp ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    corners AS (
      SELECT a AS id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS tri FROM corners GROUP BY id)
    SELECT d.id, d.d AS deg,
           COALESCE(t.tri, 0) AS tri,
           ROUND(2.0 * COALESCE(t.tri, 0) / (d.d * (d.d - 1)), 6) AS coeff
    FROM deg d LEFT JOIN tcount t ON t.id = d.id
    WHERE d.d >= 2
    """,
)
def g_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient (deg ≥ 2).

    Edge-centric counting: per undirected edge {u,v}, the triangles
    through it are |N(u) ∩ N(v)|; per vertex, tri(w) = ½ Σ over
    incident edges (each triangle at w spans exactly two of them).
    See clustering_from_edges for the degree-capped hybrid plan."""
    return clustering_from_edges(
        part_coorder_edges(spark, sf_dir),
        nbrs=coorder_nbrs_cached(spark, sf_dir),
        has_hubs=coorder_has_hubs_cached(spark, sf_dir),
    )


CLUSTERING_DEG_CAP = 2048  # adjacency arrays above this skip the broadcast


def coorder_nbrs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted adjacency arrays of the co-order graph, memoized — the
    |V|-row table clustering broadcasts twice and probes once (hub
    detection); the memo makes all three consumers read one cached
    build instead of re-running the (term, doc)-wide groupBy each."""
    from erkg_tutorials_spark.plans.memo import memoized

    return memoized(
        spark,
        sf_dir,
        "coorder_nbrs",
        lambda: _adjacency_arrays(part_coorder_edges(spark, sf_dir)),
    )


def coorder_has_hubs_cached(
    spark: SparkSession, sf_dir: str, deg_cap: int = CLUSTERING_DEG_CAP
) -> bool:
    """Memoized hub-probe verdict for the co-order graph.

    The probe (does any vertex exceed deg_cap?) is a property of the
    DATA, not of the query invocation — so it runs its limit-1 job at
    most once per (session, sf_dir, cap); repeated
    ``g_clustering_coeff`` calls construct their plan job-free (r5
    VERDICT item 3 / ADVICE on eager actions during plan
    construction). Under ``memo.plan_only()`` (the `explain` CLI
    path), a COLD lookup skips the probe entirely and assumes hubs
    (the branch that stays safe at 100× scale), so explain launches
    zero jobs on a cold session (r6 VERDICT item 7); the first
    EXECUTION still probes and memoizes the measured verdict."""
    from erkg_tutorials_spark.plans.memo import memoized_scalar

    return bool(
        memoized_scalar(
            spark,
            sf_dir,
            f"coorder_has_hubs_cap{deg_cap}",
            lambda: coorder_nbrs_cached(spark, sf_dir)
            .where(F.size("ns") > deg_cap)
            .limit(1)
            .count()
            > 0,
            plan_only_default=True,
        )
    )


def _adjacency_arrays(pp: DataFrame) -> DataFrame:
    adj = pp.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        pp.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    return adj.groupBy(F.col("z").alias("id")).agg(
        F.sort_array(F.collect_set("x")).alias("ns")
    )


def clustering_from_edges(
    pp: DataFrame,
    deg_cap: int = CLUSTERING_DEG_CAP,
    nbrs: DataFrame | None = None,
    has_hubs: bool | None = None,
) -> DataFrame:
    """Local clustering coefficients from canonical (u < v) edges.

    Hybrid per-edge common-neighbor counting, chosen by a RUNTIME hub
    probe (one tiny job over the — ideally memoized — adjacency
    table):

    * **Broadcast tier** (no vertex above deg_cap — the common case):
      per-vertex sorted adjacency arrays broadcast once; the
      intersection runs JVM-side (`array_intersect` inside codegen)
      per edge, so NO wedge set is ever materialized — the naive wedge
      join on the co-order graph (avg degree ~120) would shuffle
      Σd²/2 ≈ 150M rows at sf0.1, vs 2·|E| array lookups here.
    * **Hybrid tier** (hubs exist): edges with both endpoints ≤
      deg_cap keep the broadcast intersection; edges touching a hub
      count common neighbors with a distributed wedge join instead —
      explode the edge's u-adjacency, equi-join on (v, w) membership,
      count per edge. Volume is Σ deg(u) over hub edges only;
      everything shuffles on plain long keys.

    The probe matters for cost, not correctness: the hub branch joins
    against the full 2|E|-row adjacency relation, and Spark would
    shuffle it even when the hub edge set is empty at runtime —
    measured +4.7 s on the hubless sf0.1 co-order graph (r5 bench).
    Results are deg_cap-independent (pinned by the hub fixture test
    at cap 5 vs 1e9 and the unchanged canonical-u<v oracle)."""
    if nbrs is None:
        nbrs = _adjacency_arrays(pp)
    adj = pp.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        pp.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = nbrs.select("id", F.size("ns").cast("long").alias("deg"))
    if has_hubs is None:
        # standalone use (raw edge set, no session memo): probe here.
        # Registry callers pass the memoized verdict
        # (coorder_has_hubs_cached) so only the first invocation per
        # (session, sf_dir) pays this job.
        has_hubs = nbrs.where(F.size("ns") > deg_cap).limit(1).count() > 0

    if not has_hubs:
        per_edge = (
            pp.join(
                vhint(
                    nbrs.select(F.col("id").alias("u"), F.col("ns").alias("nu"))
                ),
                "u",
            )
            .join(
                vhint(
                    nbrs.select(F.col("id").alias("v"), F.col("ns").alias("nv"))
                ),
                "v",
            )
            .select(
                "u",
                "v",
                F.size(F.array_intersect("nu", "nv")).cast("long").alias("common"),
            )
        )
    else:
        small = nbrs.where(F.size("ns") <= deg_cap)
        # one left join per endpoint against the SAME broadcast table
        # both classifies the edge (null ⇒ hub endpoint) and delivers
        # the arrays
        tagged = pp.join(
            vhint(
                small.select(F.col("id").alias("u"), F.col("ns").alias("nu"))
            ),
            "u",
            "left",
        ).join(
            vhint(
                small.select(F.col("id").alias("v"), F.col("ns").alias("nv"))
            ),
            "v",
            "left",
        )
        per_edge_small = tagged.where(
            F.col("nu").isNotNull() & F.col("nv").isNotNull()
        ).select(
            "u",
            "v",
            F.size(F.array_intersect("nu", "nv")).cast("long").alias("common"),
        )
        hub_edges = tagged.where(
            F.col("nu").isNull() | F.col("nv").isNull()
        ).select("u", "v")
        # Distributed wedge count for hub-incident edges, ROUTED via
        # the lower-degree endpoint: |N(u) ∩ N(v)| enumerates wedges
        # from whichever side is cheaper, so a (hub, x) edge fans out
        # by deg(x) ~ avg, not deg(hub) — total volume Σ min-deg over
        # hub edges instead of Σ max-deg. (r6: exploding from u
        # unconditionally made each hub edge pay the HUB's degree —
        # quadratic in hub degree across its incident edges, the exact
        # blow-up this branch exists to avoid at 100×.) The deg joins
        # shuffle on plain long keys; hub_edges is the small side, so
        # AQE broadcasts it without a hint.
        dd = deg
        routed = (
            hub_edges.join(
                dd.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u"
            )
            .join(dd.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
            .select(
                "u",
                "v",
                F.when(F.col("du") <= F.col("dv"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("a"),
                F.when(F.col("du") <= F.col("dv"), F.col("v"))
                .otherwise(F.col("u"))
                .alias("b"),
            )
        )
        per_edge_hub = (
            routed.join(
                adj.select(F.col("z").alias("a"), F.col("x").alias("w")), "a"
            )
            .join(adj.select(F.col("z").alias("b"), F.col("x").alias("w")), ["b", "w"])
            .groupBy("u", "v")
            .agg(F.count("*").cast("long").alias("common"))
        )
        per_edge = per_edge_small.unionByName(per_edge_hub)

    halves = per_edge.select(F.col("u").alias("id"), "common").unionByName(
        per_edge.select(F.col("v").alias("id"), "common")
    )
    tcount = halves.groupBy("id").agg((F.sum("common") / 2).cast("long").alias("tri"))
    return (
        deg.join(tcount, "id", "left")
        .where(F.col("deg") >= 2)
        .select(
            "id",
            "deg",
            F.coalesce("tri", F.lit(0)).alias("tri"),
            F.round(
                F.lit(2.0)
                * F.coalesce("tri", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Strongly connected components of the major-trade-flow nation graph,
# via path-doubling transitive closure. nation A → nation B when
# customers of A bought from suppliers of B more than the "major
# flow" threshold (a scale-invariant fraction of total flow volume,
# so the graph stays comparably sparse at every SF).
#
# The closure uses REPEATED SQUARING — R_{k+1} = R_k ∪ R_k∘R_k —
# reaching all paths ≤ 2^k in k rounds: log(diameter) shuffle rounds
# instead of the linear frontier count, the right trade when the
# reachability relation is small relative to the edge count (here:
# nation-level rollup of a 100 TB fact — 600 edges max, any scale).
# SCC(u) = min over mutually-reachable vertices — all-integer, fully
# unrollable in SQL (5 squarings cover diameter ≤ 32 > 25 nations).
# ---------------------------------------------------------------------------
SCC_SQUARINGS = 5
SCC_FLOW_DENOM = 300  # threshold = total flow // DENOM


def _scc_oracle() -> str:
    parts = [f"""
    WITH flows AS MATERIALIZED (
      SELECT c.c_nationkey AS a, s.s_nationkey AS b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2
    ),
    thr AS (SELECT SUM(cnt) // {SCC_FLOW_DENOM} AS t FROM flows),
    r0 AS MATERIALIZED (SELECT a, b FROM flows, thr WHERE cnt >= t)"""]
    for i in range(1, SCC_SQUARINGS + 1):
        parts.append(f"""
    r{i} AS MATERIALIZED (
      SELECT a, b FROM r{i - 1}
      UNION
      SELECT x.a, y.b FROM r{i - 1} x JOIN r{i - 1} y ON x.b = y.a
    )""")
    last = f"r{SCC_SQUARINGS}"
    return (
        ",".join(parts)
        + f""",
    mutual AS (
      SELECT f.a AS u, f.b AS v FROM {last} f JOIN {last} r
        ON f.a = r.b AND f.b = r.a
    ),
    verts AS (SELECT a AS id FROM r0 UNION SELECT b FROM r0),
    comp AS (
      SELECT v.id,
             LEAST(v.id, COALESCE(MIN(m.v), v.id)) AS scc_id
      FROM verts v LEFT JOIN mutual m ON m.u = v.id
      GROUP BY v.id
    )
    SELECT id, scc_id,
           CAST(COUNT(*) OVER (PARTITION BY scc_id) AS BIGINT) AS scc_size
    FROM comp
    """
    )


@register("g_scc_nations", _scc_oracle())
def g_scc_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC id + size per nation in the major-flow trade graph."""
    t = load_tables(spark, sf_dir)
    flows = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("a"), F.col("s_nationkey").alias("b")
        )
        .agg(F.count("*").alias("cnt"))
    )
    thr = flows.agg(F.expr(f"sum(cnt) div {SCC_FLOW_DENOM}").alias("t"))
    from erkg_tutorials_spark.graph.ckpt import CheckpointChain

    chain = CheckpointChain()
    r = chain(
        flows.crossJoin(F.broadcast(thr))
        .where(F.col("cnt") >= F.col("t"))
        .select("a", "b")  # nation-level rollup: tiny from here on
    )
    for _ in range(SCC_SQUARINGS):
        step = r.alias("x").join(
            r.alias("y"), F.col("x.b") == F.col("y.a")
        ).select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
        r = chain(r.unionByName(step).distinct())
    mutual = r.alias("f").join(
        r.alias("g"),
        (F.col("f.a") == F.col("g.b")) & (F.col("f.b") == F.col("g.a")),
    ).select(F.col("f.a").alias("u"), F.col("f.b").alias("v"))
    e0 = flows.crossJoin(F.broadcast(thr)).where(F.col("cnt") >= F.col("t"))
    verts = (
        e0.select(F.col("a").alias("id"))
        .unionByName(e0.select(F.col("b").alias("id")))
        .distinct()
    )
    comp = (
        verts.join(mutual, verts.id == mutual.u, "left")
        .groupBy("id")
        .agg(
            F.least(F.col("id"), F.coalesce(F.min("v"), F.col("id"))).alias("scc_id")
        )
    )
    return comp.select(
        "id",
        "scc_id",
        F.count("*").over(Window.partitionBy("scc_id")).cast("long").alias("scc_size"),
    )


# ---------------------------------------------------------------------------
# Bounded-hop weighted SSSP (Bellman-Ford relaxation). Edge weight =
# the cheapest lineitem price on the customer↔supplier link (exact
# cents, symmetric); dist_{h+1}(v) = min(dist_h(v), min over in-edges
# (u,v) of dist_h(u) + w) for H relaxation rounds — each round is ONE
# join + ONE min-groupBy, the textbook distributed SSSP step. H=4 is
# the hop bound, so the oracle unrolls 4 CTE rounds (no recursion)
# and the result is "cheapest <=4-hop route cost", well-defined
# independent of convergence. All costs are BIGINT cent sums — no
# float path-cost ties to diverge on.
# ---------------------------------------------------------------------------
SSSP_SOURCE = "c:37"
SSSP_HOPS = 4


def _sssp_round_sql(h: int) -> str:
    return f"""
    d{h} AS MATERIALIZED (
      SELECT id, MIN(cost) AS cost FROM (
        SELECT id, cost FROM d{h - 1}
        UNION ALL
        SELECT w.dst AS id, d{h - 1}.cost + w.wcents AS cost
        FROM d{h - 1} JOIN wedges w ON w.src = d{h - 1}.id
      ) GROUP BY id
    )"""


@register(
    "g_weighted_sssp",
    """
    WITH rawp AS MATERIALIZED (
      SELECT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s,
             MIN(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS wcents
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    wedges AS MATERIALIZED (
      SELECT c AS src, s AS dst, wcents FROM rawp
      UNION ALL
      SELECT s AS src, c AS dst, wcents FROM rawp
    ),
    d0 AS (SELECT 'c:37' AS id, CAST(0 AS BIGINT) AS cost),
    """
    + ",".join(_sssp_round_sql(h) for h in range(1, SSSP_HOPS + 1))
    + f"""
    SELECT id, cost / 100.0 AS min_cost
    FROM d{SSSP_HOPS}
    """,
)
def g_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest <=4-hop trade-route cost from customer c:37 to every
    reachable vertex (Bellman-Ford, one relax join per hop).

    The weighted edge table is memoized like the unweighted one; each
    relaxation round shuffles only the current distance table (at most
    |reachable| rows), not the graph. Costs stay exact BIGINT cents
    until the display division.
    """
    from erkg_tutorials_spark.functions.exact_math import money_cents
    from erkg_tutorials_spark.plans.memo import memoized

    def build_edges() -> DataFrame:
        t = load_tables(spark, sf_dir)
        rawp = (
            t["orders"]
            .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(
                F.concat(F.lit("c:"), F.col("o_custkey")).alias("c"),
                F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
            )
            .agg(F.min(money_cents(F.col("l_extendedprice"))).alias("wcents"))
        )
        return rawp.select(
            F.col("c").alias("src"), F.col("s").alias("dst"), "wcents"
        ).unionByName(
            rawp.select(F.col("s").alias("src"), F.col("c").alias("dst"), "wcents")
        )

    from erkg_tutorials_spark.graph.ckpt import CheckpointChain

    wedges = memoized(spark, sf_dir, "trade_edges_weighted", build_edges)
    dist = spark.createDataFrame([(SSSP_SOURCE, 0)], "id string, cost long")
    # Delta (frontier) relaxation: only vertices whose cost IMPROVED
    # last round can propagate a new improvement, so each round
    # relaxes the frontier's incident edges instead of every edge
    # touching every settled vertex. Round-h distances are identical
    # to full Bellman-Ford's (an unimproved u already pushed
    # dist(u)+w at the round it last improved, and the min keeps it),
    # so the unrolled oracle is unchanged. The win is the shuffle
    # volume of the min-groupBy: |edges(frontier)| rows instead of
    # |edges(settled)| — on this bipartite trade graph the frontier
    # collapses after the reachable set saturates, and at 100 TB the
    # late-round saving is the difference between touching the whole
    # edge table H times and touching it ~twice.
    chain_f, chain_d = CheckpointChain(), CheckpointChain()
    # r12: the tuned loop session (AQE off, graph/loop_confs.py) was
    # TRIED around the relax rounds and measurably HURT — isolated
    # best-of-3 at sf0.1: 3.4 s (AQE on) vs 8.3 s (tuned, degrading
    # run-over-run). The shrinking-frontier dist/cand joins lean on
    # AQE's dynamic sizing each round (the frontier collapses by
    # orders of magnitude); a fixed partition count fits none of the
    # rounds. Kept on AQE deliberately (guide §1.2 — measure, then
    # pick).
    dist = _sssp_rounds(wedges, dist, chain_f, chain_d)
    return dist.select("id", (F.col("cost") / 100.0).alias("min_cost"))


def _sssp_rounds(wedges, dist, chain_f, chain_d):
    frontier = dist
    for _ in range(SSSP_HOPS):
        # broadcast the (<= |V|-row) frontier into the relax join so
        # the edge table never shuffles; the min-groupBy is the
        # round's only exchange. At a scale where the frontier
        # outgrows broadcast, the graph/hints.py knob
        # (SPARK_GRAFT_GRAPH_BCAST=0) drops it and both sides co-shuffle
        # on the vertex key — still one exchange per round per side.
        relaxed = vhint(frontier).join(
            wedges, frontier.id == wedges.src
        ).select(
            F.col("dst").alias("id"),
            (frontier.cost + F.col("wcents")).alias("cand_cost"),
        )
        cand = relaxed.groupBy("id").agg(F.min("cand_cost").alias("cand_cost"))
        improved = (
            cand.join(vhint(dist), "id", "left_outer")
            .where(F.col("cost").isNull() | (F.col("cand_cost") < F.col("cost")))
            .select("id", F.col("cand_cost").alias("cost"))
        )
        # eager tiny materializations: improved feeds BOTH the new
        # dist and the next frontier — checkpointing stops Catalyst
        # re-deriving the relax join per consumer, and the chains
        # free round h-1's blocks as round h lands (pagerank pattern)
        improved = chain_f(improved)
        if improved.isEmpty():
            break  # frontier drained — further rounds are no-ops
        dist = chain_d(
            dist.unionByName(improved).groupBy("id").agg(F.min("cost").alias("cost"))
        )
        frontier = improved
    return dist


# ---------------------------------------------------------------------------
# Harmonic closeness centrality from landmarks (the GDS closeness
# family, landmark-approximated the way large graphs actually compute
# it): closeness(v) = Σ_lm 1/d(v, lm) over reachable landmarks.
# Reuses the shortestPaths frontier machinery and its unrolled oracle;
# reciprocals are scaled to exact integers (1e9 // d) so the per-
# vertex sum is associative — bit-identical under any aggregation
# order, the same trick as g_link_prediction's RA index.
# ---------------------------------------------------------------------------
_HC_SCALE = 1_000_000_000


def _harmonic_oracle() -> str:
    from erkg_tutorials_spark.plans.oracle_pr import shortest_paths_sql

    return (
        _SYM_EDGES_CTE
        + """,
    lms AS (
      SELECT 'c:' || c_custkey AS lm FROM customer
      WHERE c_custkey % 500 = 0 AND c_custkey <= 1500
    ),
"""
        + shortest_paths_sql(rounds=20)
        + f"""
    SELECT id,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(SUM({_HC_SCALE} // dist) AS BIGINT) AS closeness_scaled
    FROM d20 WHERE dist > 0
    GROUP BY id
    """
    )


@register("g_harmonic_closeness", _harmonic_oracle())
def g_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic closeness: per vertex, the exact-integer sum of reciprocal distances to reachable landmarks."""
    from erkg_tutorials_spark.graph.frames import from_edges

    t = load_tables(spark, sf_dir)
    lms = [
        r["lm"]
        for r in t["customer"]
        .where((F.col("c_custkey") % 500 == 0) & (F.col("c_custkey") <= 1500))
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("lm"))
        .collect()
    ]
    sp = from_edges(trade_edges_sym(spark, sf_dir)).shortestPaths(lms)
    return (
        sp.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.count("*").alias("n_reached"),
            F.sum(
                (F.lit(_HC_SCALE) / F.col("dist")).cast("bigint")
            ).alias("closeness_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Time-respecting (temporal) reachability — the fraud-analytics
# primitive static reach cannot express: customer → supplier → later
# customer, where the second trade happens STRICTLY AFTER the first
# (information/money can only flow forward in time). Edges carry
# o_orderdate as an epoch-day; both hops are distinct (endpoint, day)
# edges so the temporal join's fan-in is bounded by true distinct
# trading days, not raw lineitems. Holme & Saramäki 2012, "Temporal
# networks" (public survey), the time-respecting-path definition.
# ---------------------------------------------------------------------------
@register(
    "g_temporal_reach",
    """
    WITH te AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS day
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    seeds AS (SELECT c_custkey AS c FROM customer WHERE c_custkey % 37 = 0),
    hop1 AS (
      SELECT te.c AS seed, te.s, te.day AS t1
      FROM te JOIN seeds ON te.c = seeds.c
    ),
    hop2 AS (
      SELECT DISTINCT h.seed, e2.c AS reached, e2.day AS t2
      FROM hop1 h JOIN te e2
        ON e2.s = h.s AND e2.day > h.t1 AND e2.c <> h.seed
    )
    SELECT seed,
           CAST(COUNT(DISTINCT reached) AS BIGINT) AS n_reachable,
           CAST(MIN(t2) AS BIGINT) AS first_reach_day
    FROM hop2 GROUP BY seed
    """,
)
def g_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting 2-hop reach: customers reachable from each seed through a supplier via a strictly later trade, with the earliest reach day."""
    t = load_tables(spark, sf_dir)
    te = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
            (F.unix_timestamp(F.col("o_orderdate")) / F.lit(86400))
            .cast("bigint")
            .alias("day"),
        )
        .distinct()
    )
    seeds = (
        t["customer"]
        .where(F.col("c_custkey") % 37 == 0)
        .select(F.col("c_custkey").alias("seed"))
    )
    hop1 = te.join(
        F.broadcast(seeds), te["c"] == seeds["seed"]
    ).select("seed", "s", F.col("day").alias("t1"))
    e2 = te.select(
        F.col("s").alias("s2"), F.col("c").alias("reached"), F.col("day").alias("t2")
    )
    hop2 = (
        hop1.join(
            e2,
            (F.col("s2") == F.col("s"))
            & (F.col("t2") > F.col("t1"))
            & (F.col("reached") != F.col("seed")),
        )
        .select("seed", "reached", "t2")
        .distinct()
    )
    return hop2.groupBy("seed").agg(
        F.count_distinct("reached").alias("n_reachable"),
        F.min("t2").alias("first_reach_day"),
    )


# ---------------------------------------------------------------------------
# Betweenness centrality from a deterministic sampled source set
# (Brandes 2001, public paper; the GDS betweenness surface the
# reference's Neo4j+GDS stack exposes, /root/reference/Readme.md:33-36).
# Forward keyed BFS carries exact BIGINT shortest-path counts; the
# backward sweep accumulates Brandes dependencies level by level. The
# oracle unrolls the SAME bounded-depth recursion, so the hash match
# is exact even if the graph's eccentricity exceeds the bound (both
# engines truncate identically — graph/betweenness.py).
# ---------------------------------------------------------------------------
BETWEENNESS_ROUNDS = 8
_BW_LMS_SQL = (
    "SELECT 'c:' || c_custkey AS lm FROM customer "
    "WHERE c_custkey % 1000 = 0 AND c_custkey <= 4000"
)


def _betweenness_oracle() -> str:
    R = BETWEENNESS_ROUNDS
    parts = [
        f"""
    lms AS ({_BW_LMS_SQL}),
    f0 AS MATERIALIZED (SELECT lm, lm AS id, 1::BIGINT AS sigma FROM lms),
    vis0 AS MATERIALIZED (SELECT lm, id FROM f0)"""
    ]
    for i in range(1, R + 1):
        parts.append(f"""
    f{i} AS MATERIALIZED (
      SELECT f.lm, e.dst AS id, CAST(SUM(f.sigma) AS BIGINT) AS sigma
      FROM f{i - 1} f JOIN edges e ON e.src = f.id
      LEFT JOIN vis{i - 1} v ON v.lm = f.lm AND v.id = e.dst
      WHERE v.id IS NULL
      GROUP BY f.lm, e.dst
    ),
    vis{i} AS MATERIALIZED (
      SELECT lm, id FROM vis{i - 1} UNION ALL SELECT lm, id FROM f{i}
    )""")
    parts.append(f"""
    d{R} AS MATERIALIZED (SELECT lm, id, sigma, 0.0::DOUBLE AS delta FROM f{R})""")
    for L in range(R - 1, 0, -1):
        parts.append(f"""
    s{L} AS MATERIALIZED (
      SELECT v.lm, v.id,
             SUM(v.sigma / w.sigma * (1.0::DOUBLE + w.delta)) AS delta
      FROM f{L} v JOIN edges e ON e.src = v.id
      JOIN d{L + 1} w ON w.lm = v.lm AND w.id = e.dst
      GROUP BY v.lm, v.id
    ),
    d{L} AS MATERIALIZED (
      SELECT v.lm, v.id, v.sigma, COALESCE(s.delta, 0.0::DOUBLE) AS delta
      FROM f{L} v LEFT JOIN s{L} s ON s.lm = v.lm AND s.id = v.id
    )""")
    acc = "\n      UNION ALL ".join(
        f"SELECT id, delta FROM d{L}" for L in range(1, R + 1)
    )
    return (
        _SYM_EDGES_CTE
        + ","
        + ",".join(parts)
        + f""",
    acc AS ({acc})
    SELECT id, ROUND(SUM(delta), 6) AS betweenness
    FROM acc GROUP BY id
    ORDER BY betweenness DESC, id LIMIT 20
    """
    )


@register("g_betweenness_topk", _betweenness_oracle())
def g_betweenness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source Brandes betweenness: top-20 vertices by accumulated shortest-path dependency, deterministic source set."""
    from erkg_tutorials_spark.graph.betweenness import betweenness_sampled

    t = load_tables(spark, sf_dir)
    sources = (
        t["customer"]
        .where((F.col("c_custkey") % 1000 == 0) & (F.col("c_custkey") <= 4000))
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("lm"))
    )
    bc = betweenness_sampled(
        trade_edges_sym(spark, sf_dir), sources, max_rounds=BETWEENNESS_ROUNDS
    )
    return bc.orderBy(F.col("betweenness").desc(), "id").limit(20)


# ---------------------------------------------------------------------------
# Louvain-class community detection (Blondel et al. 2008, public
# paper; the GDS community surface, /root/reference/Readme.md:33-36).
# Deterministic one-level modularity-greedy: synchronous move rounds
# restricted to alternating sides of the bipartite trade graph
# (customers move on even rounds, suppliers on odd — exact
# independent sets, the standard distributed-Louvain schedule), all
# gains compared by INTEGER cross-multiplication with min-id
# tie-breaking, so the unrolled oracle hash-matches exactly
# (graph/louvain.py).
# ---------------------------------------------------------------------------
LOUVAIN_ROUNDS = 4


def _louvain_l1_parts() -> list:
    """Level-1 CTE chain deg/m2t/l0..l{R} — shared by the one-level
    and two-level oracles."""
    R = LOUVAIN_ROUNDS
    parts = [
        """
    deg AS MATERIALIZED (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS k FROM edges GROUP BY src
    ),
    m2t AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM edges),
    l0 AS MATERIALIZED (SELECT src AS id, src AS lbl FROM deg)"""
    ]
    for r in range(R):
        cond = "l.id LIKE 'c:%'" if r % 2 == 0 else "l.id NOT LIKE 'c:%'"
        parts.append(f"""
    tot{r} AS MATERIALIZED (
      SELECT l.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
      FROM l{r} l JOIN deg d ON d.src = l.id GROUP BY l.lbl
    ),
    cand{r} AS MATERIALIZED (
      SELECT i, c, CAST(SUM(k_ic) AS BIGINT) AS k_ic FROM (
        SELECT e.src AS i, l.lbl AS c, 1 AS k_ic
        FROM edges e JOIN l{r} l ON l.id = e.dst
        UNION ALL
        SELECT id AS i, lbl AS c, 0 AS k_ic FROM l{r}
      ) u GROUP BY i, c
    ),
    best{r} AS MATERIALIZED (
      SELECT i AS id, c AS new_lbl FROM (
        SELECT s.i, s.c,
               ROW_NUMBER() OVER (PARTITION BY s.i
                                  ORDER BY s.score DESC, s.c ASC) AS rn
        FROM (
          SELECT cd.i, cd.c,
                 m2t.m2 * cd.k_ic
                 - d.k * (t.tot - CASE WHEN cd.c = l.lbl THEN d.k ELSE 0 END)
                 AS score
          FROM cand{r} cd
          JOIN l{r} l ON l.id = cd.i
          JOIN deg d ON d.src = cd.i
          JOIN tot{r} t ON t.lbl = cd.c
          CROSS JOIN m2t
        ) s
      ) ranked WHERE rn = 1
    ),
    l{r + 1} AS MATERIALIZED (
      SELECT l.id, CASE WHEN {cond} THEN b.new_lbl ELSE l.lbl END AS lbl
      FROM l{r} l JOIN best{r} b ON b.id = l.id
    )""")
    return parts


def _louvain_summary_sql(lbl_cte: str) -> str:
    """Per-community exact-integer summary over the ORIGINAL edges for
    a final (id, lbl) CTE — shared by both louvain oracles."""
    return f""",
    base AS (
      SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(d.k) AS BIGINT) AS tot_degree
      FROM {lbl_cte} l JOIN deg d ON d.src = l.id GROUP BY l.lbl
    ),
    ins AS (
      SELECT a.lbl, CAST(COUNT(*) AS BIGINT) AS in_sym
      FROM edges e JOIN {lbl_cte} a ON a.id = e.src
      JOIN {lbl_cte} b ON b.id = e.dst
      WHERE a.lbl = b.lbl GROUP BY a.lbl
    )
    SELECT base.lbl AS community, n_members, tot_degree,
           COALESCE(in_sym, 0) AS in_sym,
           m2t.m2 * COALESCE(in_sym, 0) - tot_degree * tot_degree AS mod_num
    FROM base LEFT JOIN ins ON ins.lbl = base.lbl CROSS JOIN m2t
    """


def _louvain_oracle() -> str:
    R = LOUVAIN_ROUNDS
    return (
        _SYM_EDGES_CTE
        + ","
        + ",".join(_louvain_l1_parts())
        + _louvain_summary_sql(f"l{R}")
    )


def louvain_l1_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-1 Louvain label table, session-memoized: both community
    queries consume it, and at warehouse scale a community assignment
    IS a materialized artifact (rebuilt on data change, not per
    query) — the trade_edges_fwd pattern. Eager-build memo: Louvain
    runs jobs (per-round localCheckpoints), so the build must happen
    OUTSIDE memo.py's global lock (r8 ADVICE)."""
    from erkg_tutorials_spark.graph.louvain import louvain_level
    from erkg_tutorials_spark.plans.memo import memoized_eager as memoized

    return memoized(
        spark,
        sf_dir,
        "louvain_l1_labels",
        lambda: louvain_level(
            trade_edges_sym(spark, sf_dir),
            rounds=LOUVAIN_ROUNDS,
            move_class=F.col("id").startswith("c:"),
        ),
    )


@register("g_louvain_communities", _louvain_oracle())
def g_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic one-level Louvain: per-community member count, degree mass, intra-edge count, and exact-integer modularity numerator."""
    from erkg_tutorials_spark.graph.louvain import community_summary

    return community_summary(
        trade_edges_sym(spark, sf_dir), louvain_l1_labels(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# node2vec walk corpus + skip-gram training pairs (Grover & Leskovec
# 2016, public paper; the GDS embedding surface,
# /root/reference/Readme.md:33-36). The engine owns the data-pipeline
# half — deterministic non-backtracking walks (md5-hash next-hop
# draws, p=inf/q=1) and the windowed (center, context) pair counts;
# the SGD belongs to a trainer (graph/node2vec.py).
# ---------------------------------------------------------------------------
N2V_WALK_LEN = 5
N2V_WALKS_PER_START = 2
N2V_WINDOW = 2
_N2V_STARTS_SQL = (
    "SELECT 'c:' || c_custkey AS id FROM customer WHERE c_custkey % 250 = 0"
)


def _node2vec_oracle() -> str:
    L = N2V_WALK_LEN
    ws = ", ".join(f"({w})" for w in range(N2V_WALKS_PER_START))
    parts = [
        f"""
    starts AS ({_N2V_STARTS_SQL}),
    s0 AS MATERIALIZED (
      SELECT id || '#' || w AS walk_key, id AS vertex,
             CAST(NULL AS VARCHAR) AS prev
      FROM starts CROSS JOIN (SELECT * FROM (VALUES {ws}) t(w))
    )"""
    ]
    for k in range(1, L + 1):
        parts.append(f"""
    s{k} AS MATERIALIZED (
      SELECT walk_key, vertex, prev FROM (
        SELECT c.walk_key, e.dst AS vertex, e.src AS prev,
               ROW_NUMBER() OVER (
                 PARTITION BY c.walk_key
                 ORDER BY md5(c.walk_key || '|{k}|' || e.dst), e.dst, e.src
               ) AS rn
        FROM s{k - 1} c JOIN edges e ON e.src = c.vertex
        WHERE c.prev IS NULL OR e.dst <> c.prev
      ) ranked WHERE rn = 1
    )""")
    steps = "\n      UNION ALL ".join(
        f"SELECT walk_key, {k} AS step, vertex FROM s{k}" for k in range(L + 1)
    )
    return (
        _SYM_EDGES_CTE
        + ","
        + ",".join(parts)
        + f""",
    walks AS ({steps})
    SELECT a.vertex AS center, b.vertex AS context,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM walks a JOIN walks b
      ON a.walk_key = b.walk_key AND a.step <> b.step
     AND abs(a.step - b.step) <= {N2V_WINDOW}
    GROUP BY a.vertex, b.vertex
    """
    )


@register("g_node2vec_pairs", _node2vec_oracle())
def g_node2vec_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec training pairs: deterministic non-backtracking walk corpus expanded to windowed skip-gram (center, context) counts."""
    from erkg_tutorials_spark.graph.node2vec import node2vec_walks, skipgram_pairs

    t = load_tables(spark, sf_dir)
    starts = (
        t["customer"]
        .where(F.col("c_custkey") % 250 == 0)
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("id"))
    )
    walks = node2vec_walks(
        trade_edges_sym(spark, sf_dir),
        starts,
        walk_length=N2V_WALK_LEN,
        walks_per_start=N2V_WALKS_PER_START,
    )
    return skipgram_pairs(walks, window=N2V_WINDOW)


# ---------------------------------------------------------------------------
# Two-level Louvain: aggregate the level-1 communities into a weighted
# supernode graph (self-loops = intra-community symmetric edge count)
# and run a weighted modularity-greedy level over it — the aggregation
# step is what makes Louvain scale (level-2 work is per community
# PAIR, independent of |V|). Movers alternate by md5-parity class (the
# supernode graph is no longer bipartite). Same integer
# cross-multiplied gains; full unrolled oracle.
# ---------------------------------------------------------------------------
LOUVAIN_L2_ROUNDS = 4


def _louvain_two_level_oracle() -> str:
    R1, R2 = LOUVAIN_ROUNDS, LOUVAIN_L2_ROUNDS
    parts = _louvain_l1_parts()
    parts.append(f"""
    wedges AS MATERIALIZED (
      SELECT a.lbl AS src, b.lbl AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM edges e JOIN l{R1} a ON a.id = e.src JOIN l{R1} b ON b.id = e.dst
      GROUP BY 1, 2
    ),
    wdeg AS MATERIALIZED (
      SELECT src, CAST(SUM(w) AS BIGINT) AS k FROM wedges GROUP BY src
    ),
    wm2 AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM wedges),
    v0 AS MATERIALIZED (SELECT src AS id, src AS lbl FROM wdeg)""")
    for r in range(R2):
        parts.append(f"""
    vtot{r} AS MATERIALIZED (
      SELECT l.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
      FROM v{r} l JOIN wdeg d ON d.src = l.id GROUP BY l.lbl
    ),
    vcand{r} AS MATERIALIZED (
      SELECT i, c, CAST(SUM(k_ic) AS BIGINT) AS k_ic FROM (
        SELECT e.src AS i, l.lbl AS c, e.w AS k_ic
        FROM wedges e JOIN v{r} l ON l.id = e.dst
        WHERE e.src <> e.dst
        UNION ALL
        SELECT id AS i, lbl AS c, 0 AS k_ic FROM v{r}
      ) u GROUP BY i, c
    ),
    vbest{r} AS MATERIALIZED (
      SELECT i AS id, c AS new_lbl FROM (
        SELECT s.i, s.c,
               ROW_NUMBER() OVER (PARTITION BY s.i
                                  ORDER BY s.score DESC, s.c ASC) AS rn
        FROM (
          SELECT cd.i, cd.c,
                 wm2.m2 * cd.k_ic
                 - d.k * (t.tot - CASE WHEN cd.c = l.lbl THEN d.k ELSE 0 END)
                 AS score
          FROM vcand{r} cd
          JOIN v{r} l ON l.id = cd.i
          JOIN wdeg d ON d.src = cd.i
          JOIN vtot{r} t ON t.lbl = cd.c
          CROSS JOIN wm2
        ) s
      ) ranked WHERE rn = 1
    ),
    v{r + 1} AS MATERIALIZED (
      SELECT l.id,
             CASE WHEN ascii(substr(md5(l.id), 1, 1)) % 2 = {r % 2}
                  THEN b.new_lbl ELSE l.lbl END AS lbl
      FROM v{r} l JOIN vbest{r} b ON b.id = l.id
    )""")
    parts.append(f"""
    comp AS MATERIALIZED (
      SELECT a.id, v{R2}.lbl
      FROM l{R1} a JOIN v{R2} ON v{R2}.id = a.lbl
    )""")
    return (
        _SYM_EDGES_CTE
        + ","
        + ",".join(parts)
        + _louvain_summary_sql("comp")
    )


@register("g_louvain_two_level", _louvain_two_level_oracle())
def g_louvain_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Louvain: weighted supernode refinement of the level-1 communities, per-community exact-integer summary."""
    from erkg_tutorials_spark.graph.louvain import (
        community_summary,
        louvain_two_level,
    )

    edges = trade_edges_sym(spark, sf_dir)
    lbl = louvain_two_level(
        edges,
        rounds1=LOUVAIN_ROUNDS,
        rounds2=LOUVAIN_L2_ROUNDS,
        move_class=F.col("id").startswith("c:"),
        lbl1=louvain_l1_labels(spark, sf_dir),
    )
    return community_summary(edges, lbl)


# ---------------------------------------------------------------------------
# Katz centrality (Katz 1953, "A new status index derived from
# sociometric analysis" — public paper; the remaining classic GDS
# centrality after degree/closeness/betweenness/PageRank/HITS).
# x_{k+1}(v) = alpha * sum_{u->v} x_k(u) + 1, fixed iterations, x_0=1.
# Float discipline identical to the PageRank oracle family: double
# math in matching expression order, final ROUND(_, 6), ordering done
# on the ROUNDED score both sides (plans/oracle_pr.py contract).
# alpha is far below 1/lambda_max for this graph, so the fixed-point
# iteration is contractive; correctness does NOT depend on that —
# both engines run the same fixed rounds.
# ---------------------------------------------------------------------------
KATZ_ALPHA = 0.001
KATZ_ITERS = 6


def _katz_oracle() -> str:
    parts = [
        """
    katz0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS x FROM verts)"""
    ]
    for k in range(1, KATZ_ITERS + 1):
        parts.append(f"""
    katz{k} AS MATERIALIZED (
      SELECT v.id, {KATZ_ALPHA}::DOUBLE * COALESCE(s.c, 0.0::DOUBLE) + 1.0::DOUBLE AS x
      FROM verts v LEFT JOIN (
        SELECT e.dst AS id, SUM(p.x) AS c
        FROM katz{k - 1} p JOIN edges e ON e.src = p.id
        GROUP BY e.dst
      ) s ON s.id = v.id
    )""")
    return (
        _SYM_EDGES_CTE
        + ","
        + ",".join(parts)
        + f"""
    SELECT id, ROUND(x, 6) AS katz FROM katz{KATZ_ITERS}
    ORDER BY katz DESC, id LIMIT 20
    """
    )


@register("g_katz_top20", _katz_oracle())
def g_katz_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality: fixed-iteration attenuated path counting, top-20 by rounded score."""
    from erkg_tutorials_spark.graph.ckpt import checkpoint
    from erkg_tutorials_spark.graph.loop_confs import iterate

    edges = trade_edges_sym(spark, sf_dir)
    verts = edges.select(F.col("src").alias("id")).distinct().localCheckpoint(True)
    x0 = checkpoint(verts.select("id", F.lit(1.0).alias("x")))

    def step(_i, x, verts, edges):
        contrib = (
            vhint(x.select(F.col("id").alias("src"), "x"))
            .join(edges, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("c"))
        )
        yield verts.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(KATZ_ALPHA) * F.coalesce("c", F.lit(0.0)) + F.lit(1.0)
            ).alias("x"),
        )

    (x,), _ = iterate(
        step, (x0,), (verts, edges), rounds=KATZ_ITERS,
        size=edges.count(), owned=(verts, x0),
    )
    return (
        x.select("id", F.round("x", 6).alias("katz"))
        .orderBy(F.desc("katz"), F.asc("id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Eigenvector centrality (r8 VERDICT item 7): shifted power iteration
# x_{k+1} = x_k + A·x_k on the symmetric trade graph. The +x_k shift
# (i.e. iterating A+I) breaks the bipartite ±λ oscillation the raw
# power method would hit on this customer↔supplier graph while
# converging to the SAME dominant eigenvector; skipping per-step
# normalization is sound because power iteration is scale-invariant,
# and it keeps every intermediate an exact BIGINT (x0 = 1, sums of
# integers) — the HITS trick, so the unrolled DuckDB oracle matches
# bit-for-bit with no float-order argument. Growth bound:
# (1 + max_deg)^k ≤ 680^5 ≈ 1.5e14 at sf0.1, far inside BIGINT.
# Ranking uses the exact integer mass (a 6dp tie can never flip the
# top-20 cut); the single end normalization divides by the max and
# rounds to 6dp on both engines. Scale: per iteration one broadcast
# of the |V|-row vector into the edge join + one groupBy(dst) — the
# same audited Katz shape; at 1000-executor scale drop the broadcast
# hint and let the join shuffle on src (module docstring fallback,
# SCALING.md "graph broadcast vectors").
# ---------------------------------------------------------------------------
EIGEN_ITERS = 5


def _eigenvector_oracle() -> str:
    parts = [
        """
    eig0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS x FROM verts)"""
    ]
    for k in range(1, EIGEN_ITERS + 1):
        parts.append(f"""
    eig{k} AS MATERIALIZED (
      SELECT v.id, CAST(p.x + COALESCE(s.c, 0) AS BIGINT) AS x
      FROM verts v
      JOIN eig{k - 1} p ON p.id = v.id
      LEFT JOIN (
        SELECT e.dst AS id, CAST(SUM(q.x) AS BIGINT) AS c
        FROM eig{k - 1} q JOIN edges e ON e.src = q.id
        GROUP BY e.dst
      ) s ON s.id = v.id
    )""")
    return (
        _SYM_EDGES_CTE
        + ","
        + ",".join(parts)
        + f""",
    mx AS (SELECT MAX(x) AS mxs FROM eig{EIGEN_ITERS}),
    r AS (
      SELECT b.id, ROUND(b.x * 1.0 / m.mxs, 6) AS eigen,
             ROW_NUMBER() OVER (ORDER BY b.x DESC, b.id) AS rnk
      FROM eig{EIGEN_ITERS} b CROSS JOIN mx m
    )
    SELECT id, eigen, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 20
    """
    )


@register("g_eigenvector_top20", _eigenvector_oracle())
def g_eigenvector_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 eigenvector centrality via exact-integer shifted power
    iteration (A+I), max-normalized once at the end."""
    from erkg_tutorials_spark.graph.ckpt import checkpoint
    from erkg_tutorials_spark.graph.loop_confs import iterate

    edges = trade_edges_sym(spark, sf_dir)
    verts, _, _ = trade_graph_invariants(spark, sf_dir)
    x0 = checkpoint(verts.select("id", F.lit(1).cast("long").alias("x")))

    def step(_i, x, edges):
        contrib = (
            vhint(x.select(F.col("id").alias("src"), "x"))
            .join(edges, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("c"))
        )
        yield x.join(contrib, "id", "left").select(
            "id", (F.col("x") + F.coalesce("c", F.lit(0))).alias("x")
        )

    (x,), _ = iterate(
        step, (x0,), (edges,), rounds=EIGEN_ITERS, size=edges.count(),
        owned=(x0,),
    )
    mx = x.agg(F.max("x").alias("mxs"))
    # top-20 cut FIRST via orderBy+limit (TakeOrderedAndProject — no
    # global single-partition window over |V| rows); the rank window
    # then runs over 20 rows only
    top = x.orderBy(F.desc("x"), F.asc("id")).limit(20)
    w = Window.orderBy(F.desc("x"), F.asc("id"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(mx))
        .select(
            "id",
            F.round(F.col("x") / F.col("mxs"), 6).alias("eigen"),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Weighted level-1 Louvain (r8 VERDICT item 8): the greedy modularity
# mover runs directly over trade-COUNT edge mass — w(c,s) = number of
# lineitems between customer c and supplier s — so modularity uses
# real edge weight end to end instead of the distinct-edge 0/1
# approximation. Same mover as the unweighted level and the supernode
# level (graph/louvain.py louvain_level reads ``w``), with the exact
# bipartite alternating move class (the weighted BASE graph is still
# customer↔supplier bipartite, so the independent sets are exact — no
# md5-parity fallback needed). Gains stay integer cross-multiplied
# (weights are counts), so the unrolled DuckDB oracle hash-matches.
# Scale: identical broadcast-label shape as the unweighted level; the
# weighted edge table is SMALLER than the lineitem fact (grouped on
# (c, s)), and w rides along the same one-exchange-per-round plan.
# ---------------------------------------------------------------------------
_WSYM_EDGES_CTE = """
    WITH raw AS MATERIALIZED (
      SELECT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    wedges AS MATERIALIZED (
      SELECT c AS src, s AS dst, w FROM raw
      UNION ALL
      SELECT s AS src, c AS dst, w FROM raw
    )
"""


def _louvain_weighted_l1_oracle() -> str:
    R = LOUVAIN_ROUNDS
    parts = [
        """
    wdeg AS MATERIALIZED (
      SELECT src, CAST(SUM(w) AS BIGINT) AS k FROM wedges GROUP BY src
    ),
    wm2 AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM wedges),
    w0 AS MATERIALIZED (SELECT src AS id, src AS lbl FROM wdeg)"""
    ]
    for r in range(R):
        cond = "l.id LIKE 'c:%'" if r % 2 == 0 else "l.id NOT LIKE 'c:%'"
        parts.append(f"""
    wtot{r} AS MATERIALIZED (
      SELECT l.lbl, CAST(SUM(d.k) AS BIGINT) AS tot
      FROM w{r} l JOIN wdeg d ON d.src = l.id GROUP BY l.lbl
    ),
    wcand{r} AS MATERIALIZED (
      SELECT i, c, CAST(SUM(k_ic) AS BIGINT) AS k_ic FROM (
        SELECT e.src AS i, l.lbl AS c, e.w AS k_ic
        FROM wedges e JOIN w{r} l ON l.id = e.dst
        WHERE e.src <> e.dst
        UNION ALL
        SELECT id AS i, lbl AS c, 0 AS k_ic FROM w{r}
      ) u GROUP BY i, c
    ),
    wbest{r} AS MATERIALIZED (
      SELECT i AS id, c AS new_lbl FROM (
        SELECT s.i, s.c,
               ROW_NUMBER() OVER (PARTITION BY s.i
                                  ORDER BY s.score DESC, s.c ASC) AS rn
        FROM (
          SELECT cd.i, cd.c,
                 wm2.m2 * cd.k_ic
                 - d.k * (t.tot - CASE WHEN cd.c = l.lbl THEN d.k ELSE 0 END)
                 AS score
          FROM wcand{r} cd
          JOIN w{r} l ON l.id = cd.i
          JOIN wdeg d ON d.src = cd.i
          JOIN wtot{r} t ON t.lbl = cd.c
          CROSS JOIN wm2
        ) s
      ) ranked WHERE rn = 1
    ),
    w{r + 1} AS MATERIALIZED (
      SELECT l.id, CASE WHEN {cond} THEN b.new_lbl ELSE l.lbl END AS lbl
      FROM w{r} l JOIN wbest{r} b ON b.id = l.id
    )""")
    return (
        _WSYM_EDGES_CTE
        + ","
        + ",".join(parts)
        + f""",
    base AS (
      SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(d.k) AS BIGINT) AS tot_degree
      FROM w{R} l JOIN wdeg d ON d.src = l.id GROUP BY l.lbl
    ),
    ins AS (
      SELECT a.lbl, CAST(SUM(e.w) AS BIGINT) AS in_sym
      FROM wedges e JOIN w{R} a ON a.id = e.src
      JOIN w{R} b ON b.id = e.dst
      WHERE a.lbl = b.lbl GROUP BY a.lbl
    )
    SELECT base.lbl AS community, n_members, tot_degree,
           COALESCE(in_sym, 0) AS in_sym,
           wm2.m2 * COALESCE(in_sym, 0) - tot_degree * tot_degree AS mod_num
    FROM base LEFT JOIN ins ON ins.lbl = base.lbl CROSS JOIN wm2
    """
    )


def trade_wedges_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric trade-count weighted edge table, session-memoized
    (the weighted twin of trade_edges_fwd)."""
    from erkg_tutorials_spark.plans.memo import memoized

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        fwd = (
            t["orders"]
            .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(
                F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
            )
            .agg(F.count("*").alias("w"))
        )
        return fwd.unionByName(
            fwd.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )

    return memoized(spark, sf_dir, "trade_wedges_sym", build)


@register("g_louvain_weighted_l1", _louvain_weighted_l1_oracle())
def g_louvain_weighted_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted level-1 Louvain over trade-count edge mass: per-community member count, weighted degree mass, intra-community weight, exact-integer modularity numerator."""
    from erkg_tutorials_spark.graph.louvain import community_summary, louvain_level

    wedges = trade_wedges_sym(spark, sf_dir)
    lbl = louvain_level(
        wedges,
        rounds=LOUVAIN_ROUNDS,
        move_class=F.col("id").startswith("c:"),
    )
    return community_summary(wedges, lbl)


# ---------------------------------------------------------------------------
# Node similarity (the GDS nodeSimilarity verb): pairwise Jaccard of
# neighbor sets, here between SUPPLIERS (neighbor set = the customers
# they serve). Reference analogue: the tutorials surface similar
# entities via shared-neighborhood evidence (/root/reference/Readme.md
# GDS tier); the candidate generation is a self-join on the LOW-degree
# side of the bipartite graph (customers buy from a bounded number of
# suppliers), so the pair fan-out is sum(d_c^2) with small bounded d_c
# — linear in customers at 100 TB — instead of the hub-quadratic
# supplier-side blow-up. Jaccard is exact integer micro-units:
# |A∩B| from the common-neighbor count, |A∪B| = d1 + d2 - |A∩B|.
# ---------------------------------------------------------------------------
NODESIM_TOPK = 50


def _nodesim_oracle() -> str:
    return f"""
    WITH raw AS MATERIALIZED (
      SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM raw GROUP BY s),
    common AS (
      SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM raw a JOIN raw b ON a.c = b.c AND a.s < b.s
      GROUP BY a.s, b.s
    ),
    scored AS (
      SELECT s1, s2, n_common,
             CAST(d1.d + d2.d - n_common AS BIGINT) AS n_union,
             CAST(ROUND(1000000.0 * n_common / (d1.d + d2.d - n_common))
                  AS BIGINT) AS jaccard_micro
      FROM common
      JOIN deg d1 ON d1.s = common.s1
      JOIN deg d2 ON d2.s = common.s2
    )
    SELECT s1, s2, n_common, n_union, jaccard_micro
    FROM scored
    ORDER BY jaccard_micro DESC, s1, s2 LIMIT {NODESIM_TOPK}
    """


@register("g_node_similarity", _nodesim_oracle())
def g_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k supplier pairs by exact neighbor-set Jaccard (micro-units), candidates via a common-customer self-join on the bounded-degree side."""
    e = trade_edges_fwd(spark, sf_dir)  # src = c:<custkey>, dst = s:<suppkey>
    deg = e.groupBy("dst").agg(F.count("*").cast("long").alias("d"))
    a = e.select(F.col("src").alias("cust"), F.col("dst").alias("s1"))
    b = e.select(F.col("src").alias("cust"), F.col("dst").alias("s2"))
    common = (
        a.join(b, "cust")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    scored = (
        common.join(deg.select(F.col("dst").alias("s1"), F.col("d").alias("d1")), "s1")
        .join(deg.select(F.col("dst").alias("s2"), F.col("d").alias("d2")), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            (F.col("d1") + F.col("d2") - F.col("n_common")).alias("n_union"),
            F.round(
                F.lit(1000000.0)
                * F.col("n_common")
                / (F.col("d1") + F.col("d2") - F.col("n_common"))
            )
            .cast("long")
            .alias("jaccard_micro"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard_micro"), "s1", "s2"
    ).limit(NODESIM_TOPK)


# ---------------------------------------------------------------------------
# GraphSAGE-style neighbor fanout sampling (Hamilton et al. 2017,
# public paper): the data-pipeline half of GNN training — for each
# seed, draw a bounded number of 1-hop neighbors, then per sampled
# (seed, supplier) instance a bounded number of 2-hop neighbors,
# giving the fixed-fanout computation tree a trainer consumes.
# Draws are deterministic hash ranks (md5 over the edge identity,
# seed-dependent at hop 2 so repeated suppliers get independent
# draws), replayable in SQL. Scale notes (100 TB): both hops are
# top-k-per-group windows; hop 1 partitions by seed (bounded by the
# seed's degree), hop 2 by (seed, supplier) — the fan-in before that
# window is |hop1 samples| x deg(supplier), which is the true GNN
# sampling cost everywhere; hub suppliers are the skew risk and the
# standard mitigation (pre-truncating each supplier's neighbor list
# to a per-NODE top-M >= fanout sample superset, computed once, then
# re-ranking per instance) drops in as one extra window over the
# edge table without changing this query's output.
# ---------------------------------------------------------------------------
NS_FANOUT1 = 3
NS_FANOUT2 = 2


def _neighbor_sample_oracle() -> str:
    return (
        _EDGE_CTE
        + f""",
    h1 AS (
      SELECT seeds.id AS seed, r.s AS node,
             ROW_NUMBER() OVER (
               PARTITION BY seeds.id
               ORDER BY md5('ns1:' || seeds.id || '|' || r.s), r.s
             ) AS rk
      FROM raw r JOIN seeds ON r.c = seeds.id
    ),
    hop1 AS (SELECT seed, node FROM h1 WHERE rk <= {NS_FANOUT1}),
    h2 AS (
      SELECT hop1.seed, hop1.node AS via, r.c AS node,
             ROW_NUMBER() OVER (
               PARTITION BY hop1.seed, hop1.node
               ORDER BY md5('ns2:' || hop1.seed || '|' || hop1.node || '|' || r.c), r.c
             ) AS rk
      FROM raw r JOIN hop1 ON r.s = hop1.node
    ),
    hop2 AS (SELECT seed, via, node FROM h2 WHERE rk <= {NS_FANOUT2})
    SELECT seed, CAST(1 AS BIGINT) AS hop, seed AS via, node FROM hop1
    UNION ALL
    SELECT seed, CAST(2 AS BIGINT) AS hop, via, node FROM hop2
    """
    )


@register("g_neighbor_sample", _neighbor_sample_oracle())
def g_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop fixed-fanout (3, 2) neighbor sampling per seed customer: deterministic md5-rank draws, seed-dependent at hop 2."""
    t = load_tables(spark, sf_dir)
    fwd = trade_edges_fwd(spark, sf_dir)  # src = c:<custkey>, dst = s:<suppkey>
    seeds = seed_customers(t)
    w1 = Window.partitionBy("seed").orderBy("draw1", "node")
    hop1 = (
        fwd.join(seeds, fwd.src == seeds.id)
        .select(
            F.col("id").alias("seed"),
            F.col("dst").alias("node"),
            F.md5(F.concat(F.lit("ns1:"), F.col("id"), F.lit("|"), F.col("dst"))).alias(
                "draw1"
            ),
        )
        .withColumn("rk", F.row_number().over(w1))
        .where(F.col("rk") <= NS_FANOUT1)
        .select("seed", "node")
    )
    rev = fwd.select(F.col("dst").alias("s"), F.col("src").alias("c"))
    w2 = Window.partitionBy("seed", "via").orderBy("draw2", "node")
    hop2 = (
        rev.join(hop1.withColumnRenamed("node", "via"), rev.s == F.col("via"))
        .select(
            "seed",
            "via",
            F.col("c").alias("node"),
            F.md5(
                F.concat(
                    F.lit("ns2:"),
                    F.col("seed"),
                    F.lit("|"),
                    F.col("via"),
                    F.lit("|"),
                    F.col("c"),
                )
            ).alias("draw2"),
        )
        .withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= NS_FANOUT2)
        .select("seed", "via", "node")
    )
    return hop1.select(
        "seed",
        F.lit(1).cast("long").alias("hop"),
        F.col("seed").alias("via"),
        "node",
    ).unionByName(
        hop2.select("seed", F.lit(2).cast("long").alias("hop"), "via", "node")
    )


# ===========================================================================
# Graph query surface: spanning-forest and independent-set
# verbs over the customer↔supplier trade graph (the GDS catalogue tier,
# reference Readme.md) — distributed Borůvka MST and Luby-style
# MIS, both derandomized so the DuckDB oracle is a full hash match.
# ===========================================================================


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

        # dated_trade_edges_sym = fwd ∪ mirror; build the halves here
        # so only fwd is cached (mirror = projection)
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
    from erkg_tutorials_spark.graph.pagerank import pagerank

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
    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.lakehouse.versioned import read_version

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
    from erkg_tutorials_spark.graph.pagerank import pagerank

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
