"""G5 (substrate) — PageRank as iterative DataFrame joins.

No GraphFrames dependency: each iteration is
``ranks ⋈ degree-joined edges → groupBy(dst).sum`` plus the standard
damping + dangling-mass redistribution, i.e. exactly the shuffle
pattern GraphX's Pregel would produce, but expressed declaratively so
Catalyst/AQE manage partitioning and skew. This is a MEASURED choice,
not an assumption: the r10/r11 A/Bs (tools/graphx_ab.py, SCALING.md
"GraphX vs DataFrame-loop") drove the classpath GraphX
``PageRank.run`` via py4j on the same graph — parity 6e-15; the loop
wins below the measured crossover, and above it (GRAPHX_MIN_EDGES)
pagerank() ROUTES to GraphX for the provably-shared semantics.

One loop body (:func:`_iterate`) serves every variant — global,
namespaced, weighted and personalized. They differ only in |V| (a
driver scalar or a per-row ``n`` column), the per-edge share
(``rank/out_deg`` or ``(rank*w)/w_total``), the dangling mass (none, a
broadcast scalar or a per-namespace sum) and the restart/dangling
scaling (``x/n`` or ``x*tp``). The loop builds each from column
expressions the variant passes in or the tables carry, so every
variant keeps its own IEEE expression tree.

Scale notes: ranks and degrees are keyed by vertex id — co-partitioned
across iterations after the first shuffle; the rank state is
``localCheckpoint``-ed every round, which truncates the growing lineage
(the classic iterative-algo failure mode at scale). Longer spans were
measured slower: each uncheckpointed round re-executes its
predecessors through the broadcast rank subtree (SCALING.md "PPR
checkpoint cadence").

Supports composite graph namespaces (e.g. per-document token graphs
for TextRank) via ``namespace_col``: PageRank then runs independently
within each namespace — thousands of small graphs in one job, no
driver loop.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.loop_confs import iterate, loop_partitions

# r11: the A/B with the in-JVM handoff (tools/graphx_ab.py
# run_graphx_mem — no file marshalling) found the crossover: the DF
# loop still wins at sf0.1 (8.0 vs 21.9 s) and 10x (17.5 vs 21.6 s),
# but at the 100x notch (117M edges) GraphX's Pregel wins 70 vs 125 s.
# pagerank() therefore routes through the classpath GraphX above this
# edge threshold — only for the semantics the two engines provably
# share (un-namespaced, unweighted, cold-start, dangler-free: measured
# parity ours*n vs GraphX 2e-14 at 117M edges). Env-tunable; 0 forces
# the route (parity test tests/test_graph_frames.py).
GRAPHX_MIN_EDGES = 50_000_000


def _graphx_min_edges() -> int:
    v = os.environ.get("SPARK_GRAFT_GRAPHX_MIN_EDGES")
    return int(v) if v not in (None, "") else GRAPHX_MIN_EDGES


def graph_invariants(
    e: DataFrame, ns: Sequence[str] = (), symmetric: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(verts, e_deg, danglers) — the loop-invariant tables of every
    PageRank-family loop, as lazy plans (callers pick the cache or
    memo policy).

    ``e`` = (*ns, src, dst[, w]). Namespaced verts carry their
    per-namespace vertex count ``n``. The danglers are derived from
    those same verts, so a caller that caches verts first has the
    danglers build read — and materialize — that cache, and the loop
    plans its first round against the measured verts size.

    With a ``w`` column the per-edge degree is GDS relationshipWeight
    semantics: ``w_total`` = the source's total positive weight, and
    ``w`` AND ``w_total`` both stay on the edge table so the loop
    evaluates ``(rank*w)/w_total`` — the oracle's exact expression
    tree, not a precomputed share (the ulp-level divergence per edge
    would compound over the iterations).
    Null/zero/negative edges are dropped, so a vertex whose every
    out-edge is non-positive carries no transition and is a dangler.
    The per-edge degree is joined onto the edge table HERE, once — each
    iteration then needs a single ranks ⋈ edges join, not two.

    ``symmetric`` asserts the (positive-weight) edge list is mirrored:
    every vertex then has an out-edge, so the out-degree KEY SET is the
    vertex set (a projection of the |V|-row degree table instead of a
    distinct-union pass over 2|E| rows) and the danglers table is empty
    by construction — an empty frame, no anti-join. A wrong
    assertion DROPS vertices; make it only where symmetry is structural
    (mirrored unions).
    """
    ns = list(ns)
    if "w" in e.columns:
        e_pos = e.filter(F.col("w") > 0)
        out_deg = e_pos.groupBy(*ns, "src").agg(F.sum("w").alias("w_total"))
    else:
        e_pos = e
        out_deg = e.groupBy(*ns, "src").agg(F.count("*").alias("out_deg"))
    e_deg = e_pos.join(out_deg, ns + ["src"])
    src_ids = out_deg.select(*ns, F.col("src").alias("id"))
    if symmetric:
        verts = src_ids
    else:
        verts = (
            e.select(*ns, F.col("src").alias("id"))
            .unionByName(e.select(*ns, F.col("dst").alias("id")))
            .distinct()
        )
    if ns:
        # a window partitioned by namespace: each partition is one small
        # document graph. Un-namespaced graphs count |V| driver-side — a
        # keyless Window.partitionBy() would drag all |V| rows through
        # ONE task at 100x scale
        verts = verts.withColumn("n", F.count("*").over(Window.partitionBy(*ns)))
    if symmetric:
        # empty by construction; limit(0) plans as an empty local
        # relation, so probing or joining it runs no job
        danglers = src_ids.limit(0)
    else:
        # dangling = vertices with no out-edges; loop-invariant. Per
        # iteration their mass is a sum over the O(|V|) rank state — NOT
        # a second pass over the O(|E|) contribs (1 - sum(contrib) is the
        # same number, but forces the edge scan + aggregation to run twice)
        danglers = verts.select(*ns, "id").join(src_ids, ns + ["id"], "left_anti")
    return verts, e_deg, danglers


def teleport_vector(seeds: DataFrame, verts: DataFrame) -> DataFrame:
    """(id, tp) over EVERY vertex: 1/|S∩V| on the seeds, 0.0 elsewhere.
    Seeds not in the graph are dropped before the 1/|S| weighting, so
    the vector always sums to 1. The seed id is ``seeds``' first
    column."""
    s = (
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .join(verts, ["id"], "left_semi")
    )
    n_seeds = s.agg(F.count("*").alias("ns"))
    tp_seed = s.crossJoin(F.broadcast(n_seeds)).select(
        "id", (F.lit(1.0) / F.col("ns")).alias("tp")
    )
    return verts.join(tp_seed, ["id"], "left").select(
        "id", F.coalesce("tp", F.lit(0.0)).alias("tp")
    )


def pagerank(
    edges: DataFrame,
    reset: float = 0.15,
    max_iter: int = 10,
    namespace_col: str | None = None,
    pre: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    init_ranks: DataFrame | None = None,
    weight: str | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """Returns (``[namespace,] id, rank``); ranks sum to 1 per namespace.

    ``edges`` = (src, dst[, namespace_col][, weight]).

    ``pre`` = (verts(id), e_deg(src, dst, out_deg), danglers(id)), as
    built by :func:`graph_invariants` and materialized by the caller
    (session-memo pattern — the same tables serve every PageRank-family
    query over one graph). Only valid without ``namespace_col`` and
    ``weight``; the caller owns their lifecycle.

    Standard damped PageRank with dangling-node mass redistributed
    uniformly (networkx semantics, which pytextrank inherits — the
    reference project's poetry.lock pins pytextrank 3.3.0).

    ``init_ranks`` warm-starts the iteration (incremental maintenance):
    a prior rank vector carried into the new graph; vertices the prior
    never saw start at the uniform mass. The damped iteration contracts
    toward the new fixpoint from ANY start — a warm one just needs
    fewer rounds per maintenance batch.

    ``symmetric`` asserts the edge list is mirrored (see
    :func:`graph_invariants`). Besides the cheaper invariants it tells
    the loop every vertex has an in-edge, so the per-iteration verts
    left-join is skipped without the one-off probe that otherwise
    decides it (un-namespaced graphs only).
    """
    ns = [namespace_col] if namespace_col else []
    if pre is not None and ns:
        raise ValueError("pre-built invariants are only supported un-namespaced")
    if pre is not None and weight:
        raise ValueError("pre-built invariants are unweighted; pass edges")
    wcols = [F.col(weight).alias("w")] if weight else []
    e = edges.select(*ns, "src", "dst", *wcols)

    owned: list[DataFrame] = []
    if pre is None:
        # loop-invariant tables: materialize once, reuse every iteration
        # (without this each iteration re-derives them from the source
        # scan, re-broadcasting fresh copies — the accumulated broadcasts
        # are what blow a small driver heap long before the data does)
        pre = owned = [df.cache() for df in graph_invariants(e, ns, symmetric)]
    verts, e_deg, danglers = pre

    if ns:
        carry, n_verts, n = ["n"], None, F.col("n")
    else:
        # un-namespaced: |V| is ONE scalar, counted driver-side instead
        # of riding every row as an `n` column. float(n_verts) is exact
        # (counts < 2^53), and lit(n) keeps the DIVISION form x / n
        # (never x * (1/n) — the two differ in the last ulp)
        carry, n_verts = [], verts.count()
        n = F.lit(float(n_verts))

    def share(x: Column) -> Column:
        return x / n

    uniform = share(F.lit(1.0))
    if init_ranks is not None:
        ranks = verts.join(
            init_ranks.select(*ns, "id", F.col("rank").alias("rank0")),
            ns + ["id"],
            "left",
        ).select(*ns, "id", *carry, F.coalesce("rank0", uniform).alias("rank"))
    else:
        ranks = verts.select(*ns, "id", *carry, uniform.alias("rank"))

    route = None
    if not ns and weight is None and init_ranks is None:

        def route() -> DataFrame:
            return _pagerank_graphx(e, verts, n_verts, reset, max_iter)

    return _iterate(
        ranks, verts, e_deg, danglers, owned,
        ns=ns, carry=carry, share=share, reset=reset, max_iter=max_iter,
        symmetric=symmetric, route=route,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    reset: float = 0.15,
    max_iter: int = 10,
    pre: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    tp: DataFrame | None = None,
) -> DataFrame:
    """Returns (id, rank): random-walk-with-restart scores.

    ``pre`` = caller-materialized (verts, e_deg, danglers), exactly as
    in pagerank() — the graph invariants don't depend on the seed set,
    so one memoized build serves every watchlist.

    ``tp`` = caller-materialized :func:`teleport_vector`. A watchlist's
    teleport vector is an index artifact like the degree-joined edge
    table: deriving it costs three driver-visible jobs (seed semi-join,
    |S| count, vertex left join) that repeat on every call, so repeated
    scoring against one watchlist should memoize it. When given,
    ``seeds`` is ignored.

    networkx ``personalization=`` semantics (the reference's TextRank
    stack rides on networkx PageRank — poetry.lock:3893): the teleport
    distribution is uniform over the seed set instead of over all
    vertices, and dangling mass is redistributed to the seeds — the
    shared loop with restart and dangling terms ``x * tp`` in place of
    ``x / n``.
    """
    owned: list[DataFrame] = []
    if pre is None:
        pre = owned = [
            df.cache() for df in graph_invariants(edges.select("src", "dst"))
        ]
    verts, e_deg, danglers = pre
    if tp is None:
        tp = teleport_vector(seeds, verts).cache()
        owned = [*owned, tp]
    else:
        tp = tp.select("id", "tp")

    def share(x: Column) -> Column:
        return x * F.col("tp")

    return _iterate(
        tp.select("id", "tp", F.col("tp").alias("rank")),
        tp, e_deg, danglers, owned,
        ns=[], carry=["tp"], share=share, reset=reset, max_iter=max_iter,
    )


def _iterate(
    ranks: DataFrame,
    verts: DataFrame,
    e_deg: DataFrame,
    danglers: DataFrame,
    owned: list[DataFrame],
    *,
    ns: list[str],
    carry: list[str],
    share: Callable[[Column], Column],
    reset: float,
    max_iter: int,
    symmetric: bool = False,
    route: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """The one rank-update loop and its prologue, for every variant.

    ``verts`` is the vertex table the contribs are left-joined onto —
    it carries the per-vertex ``carry`` columns (``n`` for namespaced
    graphs, ``tp`` for personalized ones) that ``share`` reads; ``share``
    turns a mass (the restart probability, a dangling sum) into this
    vertex's part of it. ``owned`` are the tables this call cached and
    frees on exit (caller-owned ``pre`` / ``tp`` tables are left alone).
    The rounds run under :func:`~erkg_tutorials_spark.graph.loop_confs.iterate`.
    """
    from erkg_tutorials_spark.graph.hints import hints_enabled

    # materializing the cached e_deg (the biggest shuffle, run at
    # session confs so AQE still shapes it) doubles as the loop sizing
    # count (loop_confs.loop_partitions) and the GraphX route guard
    n_edges = e_deg.count()
    # measured routing (module header): above the crossover, the
    # dangler-free/unweighted/cold-start case runs on classpath GraphX
    if route is not None and n_edges >= _graphx_min_edges() and danglers.isEmpty():
        out = route()
        for df in owned:
            df.unpersist()
        return out
    keys = ns + ["id"]
    # global graphs: |ranks| = |V| ≪ |E| — broadcasting the rank
    # vector makes each iteration's rank⋈edges a map-side join over
    # the cached edge table; the only shuffle left per iteration is
    # the contrib aggregation (PageRank's irreducible message
    # traffic). Namespaced (per-doc) graphs shuffle-join: there the
    # rank table is the full token×doc set, and on the bounded
    # TextRank doc set a broadcast was measured slower (its
    # per-iteration build jobs outweigh the tiny shuffle). The
    # family-wide hint knob (graph/hints.py) force-disables it.
    bcast = F.broadcast if not ns and hints_enabled() else (lambda df: df)
    per_edge = (
        (F.col("rank") * F.col("w")) / F.col("w_total")
        if "w_total" in e_deg.columns
        else F.col("rank") / F.col("out_deg")
    )
    # loop-invariant caches keep their PARENT-session layout
    # (scan/AQE-shaped — 64+ tiny partitions for a table the loop
    # sizing puts at loop_partitions(n) ≈ 8 locally), and every
    # iteration re-reads them: the per-iteration fixed cost was
    # dominated by task count, not data (~280 tasks/iteration at sf0.1,
    # ≥90% of them sub-10 ms cache-scan tasks). coalesce() is a narrow
    # merge-at-read — no shuffle, no extra materialization — that sizes
    # every loop-side read to the loop's own partitioning.
    p_loop = loop_partitions(n_edges)
    has_danglers = join_verts = False

    def step(i, ranks, verts, e_deg, danglers):
        nonlocal has_danglers, join_verts
        if i == 0:
            # once per call, inside the loop session, whose shapes are
            # the loop's shapes. Graphs without dangling vertices (every
            # symmetric one) skip the per-iteration dangling agg +
            # broadcast. When each vertex has an in-edge the contrib
            # aggregation's key set IS the vertex set, so the verts
            # left-join is the identity and is skipped — unless the join
            # carries a per-vertex column. Asserted by symmetric callers,
            # else probed.
            has_danglers = not danglers.isEmpty()
            join_verts = bool(carry) or not (
                symmetric
                or verts.join(
                    e_deg.select(F.col("dst").alias("id")), ["id"], "left_anti"
                ).isEmpty()
            )
        contribs = (
            bcast(ranks.select(*ns, F.col("id").alias("src"), "rank"))
            .join(e_deg, ns + ["src"])
            .select(*ns, F.col("dst").alias("id"), per_edge.alias("c"))
            .groupBy(*keys)
            .agg(F.sum("c").alias("contrib"))
        )
        base = verts.join(contribs, keys, "left") if join_verts else contribs
        dangling = F.lit(0.0)
        if has_danglers:
            mass = ranks.join(danglers, keys, "left_semi")
            if ns:
                base = base.join(
                    mass.groupBy(*ns).agg(F.sum("rank").alias("dangling")),
                    ns,
                    "left",
                )
            else:
                # agg on a (possibly empty) semi-join yields one row
                base = base.crossJoin(
                    F.broadcast(
                        mass.agg(
                            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling")
                        )
                    )
                )
            dangling = F.coalesce(F.col("dangling"), F.lit(0.0))
        # the rank state is O(|V|) rows, but the *plan* doubles every
        # uncheckpointed round — iterate checkpoints it every round
        yield base.select(
            *keys,
            *carry,
            (
                share(F.lit(reset))
                + F.lit(1.0 - reset)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + share(dangling))
            ).alias("rank"),
        )

    (ranks,), _ = iterate(
        step,
        (ranks,),
        [df.coalesce(p_loop) for df in (verts, e_deg, danglers)],
        rounds=max_iter,
        size=n_edges,
        owned=owned,
    )
    # checkpoint-backed: the owned caches are no longer in its lineage
    return ranks.select(*keys, "rank")


def _pagerank_graphx(e, verts, n_verts, reset: float, max_iter: int) -> DataFrame:
    """Classpath-GraphX tier for the routed case (see module header).

    Vertex ids are arbitrary strings here; GraphX needs longs, so a
    |V|-row index table maps them (monotonically_increasing_id — only
    uniqueness matters). The handoff stays in the JVM end-to-end:
    edges → Dataset[(Long,Long)] via Encoders.tuple → RDD →
    Graph.fromEdgeTuples; ranks return as a Dataset via createDataset.
    GraphX's staticPageRank starts every rank at 1.0 and iterates
    r = reset + (1-reset)·Σ r_j/deg_j with no dangling handling; on a
    dangler-free graph that is our recurrence scaled by |V| (measured:
    max |ours·n − graphx| = 2e-14 at 117M edges), so the result is
    divided by n to keep the sums-to-1 contract."""
    spark = e.sparkSession
    # the id↔vid map is joined TWICE (src and dst) and again on the way
    # out — monotonically_increasing_id is non-deterministic under
    # recompute, so a merely .cache()d index partially evicted at
    # exactly the scale this route targets (≥GRAPHX_MIN_EDGES) could
    # map src and dst through DIFFERENT assignments. The eager local
    # checkpoint makes the assignment durable before any join reads it
    # (|V| rows, 2 cols — small; the backing RDD is GC-reclaimed by the
    # ContextCleaner once idx drops out of scope).
    idx = (
        verts.select("id")
        .withColumn("vid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    ledges = (
        e.join(idx.select(F.col("id").alias("src"), F.col("vid").alias("s")),
               "src")
        .join(idx.select(F.col("id").alias("dst"), F.col("vid").alias("d")),
              "dst")
        .select(F.col("s").alias("src"), F.col("d").alias("dst"))
    )
    jvm = spark._jvm
    enc = jvm.org.apache.spark.sql.Encoders
    tupds = getattr(ledges._jdf, "as")(enc.tuple(enc.LONG(), enc.LONG()))
    sl = jvm.org.apache.spark.storage.StorageLevel.MEMORY_ONLY()
    int_tag = jvm.scala.reflect.ClassTag.Int()
    g = jvm.org.apache.spark.graphx.Graph.fromEdgeTuples(
        tupds.rdd(), 1, jvm.scala.Option.empty(), sl, sl, int_tag
    )
    ranked = jvm.org.apache.spark.graphx.lib.PageRank.run(
        g, max_iter, reset, int_tag, int_tag
    )
    ds = spark._jsparkSession.createDataset(
        ranked.vertices(), enc.tuple(enc.LONG(), enc.DOUBLE())
    )
    vr = DataFrame(ds.toDF(), spark).select(
        F.col("_1").alias("vid"), F.col("_2").alias("gxrank")
    )
    out = (
        idx.join(vr, "vid")
        .select(
            "id", (F.col("gxrank") / F.lit(float(n_verts))).alias("rank")
        )
        .localCheckpoint(eager=True)  # sever before the JVM state drops
    )
    # Graph.fromEdgeTuples caches vertices+edges MEMORY_ONLY and
    # PageRank.run leaves the final ranked graph cached — by definition
    # |E| ≥ GRAPHX_MIN_EDGES here, so leaving them resident would leak
    # edge-set-sized RDDs into executor storage on every routed call
    # and LRU-evict other queries' loop-invariant caches. The eager
    # checkpoint above already materialized everything we return.
    ranked.unpersist(False)
    g.unpersist(False)
    return out
