"""PropertyGraph — a GraphFrames-shaped query surface, DataFrame-backed.

The north star ("GraphX for analytics, GraphFrames for queries",
/root/repo/BASELINE.json) prescribes the GraphFrames API as the user
surface; the container has no graphframes JVM package, so this facade
exposes the same query surface backed by this repo's pure-DataFrame
implementations — a user of the reference's intended Neo4j/GDS
workflow (Readme.md:19, deleted src/neo4j module) gets the same verbs:

- ``g.inDegrees / outDegrees / degrees`` (G4/A7)
- ``g.pageRank(...)``                     (G5 substrate)
- ``g.connectedComponents()``             (G6 substrate)
- ``g.kHop(seeds, k)``                    (G2/G3 — the reference's
  2-hop "friends of friends" filter, senzing_pipeline.py:373-397)
- ``g.find_chain(n)``                     (the motif subset the
  reference's queries need: "(a)-[]->(b); (b)-[]->(c)" chains)
- ``g.find(pattern)``                     (full GraphFrames motif DSL:
  anonymous vertices/edges, ``!`` negation, attribute structs)
- ``g.bfs(fromExpr, toExpr)``             (shortest-path search, struct
  path rows ``from, e0, v1, …, to``)
- ``g.shortestPaths(landmarks)``          (directed landmark distances)
- ``g.labelPropagation(maxIter)``         (deterministic sync LPA)
- ``g.aggregateMessages(...)``            (triplet message passing)
- ``g.triangleCount()``                   (GraphFrames analytics parity)

Every method returns a DataFrame — composable with the rest of the
engine, optimizable by Catalyst, no driver-side graph state.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.ckpt import checkpoint
from erkg_tutorials_spark.graph.connected_components import connected_components
from erkg_tutorials_spark.graph.hints import hints_enabled
from erkg_tutorials_spark.graph.khop import k_hop, k_hop_labeled
from erkg_tutorials_spark.graph.loop_confs import iterate
from erkg_tutorials_spark.graph.pagerank import pagerank

# shortestPaths / labelPropagation broadcast their O(|V|)-row state
# (frontier, settled set, labels) into the edge join up to this many
# rows; above it — or with hints off (graph/hints.py) — they shuffle
BROADCAST_THRESHOLD_ROWS = 500_000


def _broadcastable(rows: int) -> bool:
    return hints_enabled() and rows <= BROADCAST_THRESHOLD_ROWS


@dataclass(frozen=True)
class _MotifTerm:
    src: str
    edge: str
    dst: str


_TERM_RE = re.compile(r"^(!?)\s*\((\w*)\)\s*-\s*\[(\w*)\]\s*->\s*\((\w*)\)$")


def _parse_motif(pattern: str) -> tuple[list[_MotifTerm], list[_MotifTerm]]:
    """GraphFrames motif grammar: ``(a)-[e]->(b)`` terms joined by
    ``;``, ``!`` prefix for negation. Returns (positive, negated)."""
    pos: list[_MotifTerm] = []
    neg: list[_MotifTerm] = []
    seen_edges: set[str] = set()
    for raw in pattern.split(";"):
        raw = raw.strip()
        if not raw:
            continue
        m = _TERM_RE.match(raw)
        if not m:
            raise ValueError(f"unparseable motif term: {raw!r}")
        bang, src, edge, dst = m.groups()
        if bang and edge:
            raise ValueError(f"negated term can't bind an edge name: {raw!r}")
        if edge:
            if edge in seen_edges:
                raise ValueError(f"duplicate edge name {edge!r}")
            seen_edges.add(edge)
        (neg if bang else pos).append(_MotifTerm(src, edge, dst))
    return pos, neg


class PropertyGraph:
    """``vertices`` must carry ``id``; ``edges`` must carry ``src, dst``
    (plus any edge attributes, preserved by motif search)."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        if "id" not in vertices.columns:
            raise ValueError("vertices need an 'id' column")
        if not {"src", "dst"} <= set(edges.columns):
            raise ValueError("edges need 'src' and 'dst' columns")
        self.vertices = vertices
        self.edges = edges

    # -- degrees (G4/A7) ---------------------------------------------------
    @property
    def inDegrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("inDegree")
        )

    @property
    def outDegrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("outDegree")
        )

    @property
    def degrees(self) -> DataFrame:
        return (
            self.inDegrees.withColumnRenamed("inDegree", "d")
            .unionByName(self.outDegrees.withColumnRenamed("outDegree", "d"))
            .groupBy("id")
            .agg(F.sum("d").cast("long").alias("degree"))
        )

    # -- analytics ---------------------------------------------------------
    def pageRank(
        self, resetProbability: float = 0.15, maxIter: int = 10
    ) -> DataFrame:
        """vertices + ``pagerank`` column. GraphFrames normalizes ranks
        to sum to |V|; this returns the sum-to-1 distribution (× |V| to
        convert)."""
        ranks = pagerank(self.edges, reset=resetProbability, max_iter=maxIter)
        return self.vertices.join(ranks, "id", "left").na.fill({"rank": 0.0}).withColumnRenamed(
            "rank", "pagerank"
        )

    def connectedComponents(self) -> DataFrame:
        """vertices + ``component`` (min reachable vertex id, undirected)."""
        comp = connected_components(self.edges)
        return self.vertices.join(comp, "id", "left").withColumn(
            "component", F.coalesce("component", F.col("id"))
        )

    def triangleCount(self) -> DataFrame:
        """vertices + ``count`` of undirected triangles through each
        vertex (GraphFrames semantics: edge direction ignored,
        self-loops dropped). Edge-iterator enumeration over higher-
        neighbor adjacency intersections (graph/triangles.py) — each
        triangle (a<b<c) is found exactly once, and only edge-count
        rows shuffle (the former three-equi-join plan shuffled one
        row per WEDGE, ~49M at sf0.1 vs 1.2M edges)."""
        from erkg_tutorials_spark.graph.triangles import vertex_triangle_counts

        e = (
            self.edges.select(
                F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        per_vertex = vertex_triangle_counts(e)
        return (
            self.vertices.join(per_vertex, "id", "left")
            .withColumn("count", F.coalesce("count", F.lit(0)).cast("long"))
        )

    def shortestPaths(self, landmarks: list, max_rounds: int = 20) -> DataFrame:
        """(id, landmark, dist) — directed shortest-path distances from
        every vertex TO each landmark (GraphFrames semantics, result
        flattened to rows instead of a map column so it joins/oracles
        cleanly). Unreachable pairs are absent.

        Frontier BFS (unweighted graph — first discovery IS the
        shortest path): each round expands only the pairs discovered
        last round through the edge table, anti-joins the settled
        state to keep the genuinely new ones, and stops on an empty
        frontier. Per-round join work is sized by the frontier, not
        |E| × |state| — the full-relaxation alternative (re-joining
        the whole state every round, groupBy-min) does
        O(rounds × |E|-matched) work and was measured ~15% slower
        even on the small trade graph; at scale the frontier's
        monotone shrink after the expansion peak is the difference
        between BFS and repeated full passes. Same loop discipline as
        connected_components: the rounds run under loop_confs.iterate.

        Frontier/state broadcasting (r3): while the frontier (and the
        settled (id, lm) set) stay under ``BROADCAST_THRESHOLD_ROWS``
        — tracked EXACTLY, each round's frontier count is the loop's
        own termination signal — the expansion join and the anti-join
        run map-side over the edge table: the O(|E|) side is never
        shuffled or sorted. A frontier that outgrows the threshold
        falls back to the shuffle join the same round (measured
        7.1s → 2.9s at sf0.1). BFS depth is uniform per round, so the
        frontier drops its dist column into a literal and the new-pair
        dedup keys on (id, lm) only — its exchange is exactly the
        anti-join's required clustering when the state side does
        shuffle."""
        spark = self.edges.sparkSession
        e = self.edges.select("src", "dst").localCheckpoint(eager=True)
        state0 = checkpoint(
            spark.createDataFrame(
                [(lm, lm, 0) for lm in landmarks], ["id", "lm", "dist"]
            )
        )
        n_front = n_state = len(landmarks)

        def step(i, frontier, state, e):
            nonlocal n_front, n_state
            f = frontier.select(F.col("id").alias("dst"), "lm")
            if _broadcastable(n_front):
                f = F.broadcast(f)
            st = state.select("id", "lm")
            if _broadcastable(n_state):
                st = F.broadcast(st)
            new = yield (
                e.join(f, "dst")
                .select(F.col("src").alias("id"), "lm")
                .dropDuplicates(["id", "lm"])
                .join(st, ["id", "lm"], "left_anti")
                .withColumn("dist", F.lit(i + 1))
            )
            n_front = new.count()
            if n_front == 0:
                return
            n_state += n_front
            yield state.unionByName(new)

        (_, state), _ = iterate(
            step, (state0, state0), (e,), rounds=max_rounds, size=e.count(),
            owned=(e, state0),
        )
        return state.select("id", F.col("lm").alias("landmark"), "dist")

    def labelPropagation(self, maxIter: int = 5) -> DataFrame:
        """(id, label) — synchronous label propagation run for exactly
        ``maxIter`` rounds (GraphFrames labelPropagation, made
        deterministic: most-frequent in-neighbor label, ties to the
        smallest; isolated/in-degree-0 vertices keep their own label).
        Fixed rounds rather than convergence because synchronous LPA
        can oscillate — determinism is the contract here.

        r3 plan shape: the winner is ``min(struct(-count, label))`` —
        one hash aggregation with map-side partials — instead of a
        row_number window, whose per-vertex sort buys nothing over the
        associative min; and while the O(|V|) label table stays under
        ``BROADCAST_THRESHOLD_ROWS`` both the edge join and the update
        join run map-side, so the O(|E|) side is never shuffled
        (measured 5.4s → 3.6s at sf0.1, identical labels; large
        graphs fall back to the shuffle join automatically)."""
        labels0 = checkpoint(
            self.vertices.select("id", F.col("id").alias("lbl"))
        )
        e = self.edges.select("src", "dst").localCheckpoint(eager=True)
        bcast = None

        def step(i, labels, e):
            nonlocal bcast
            if i == 0:  # sized once, inside the loop session
                small = _broadcastable(labels.count())
                bcast = F.broadcast if small else (lambda df: df)
            winner = (
                e.join(bcast(labels.withColumnRenamed("id", "src")), "src")
                .select(F.col("dst").alias("id"), "lbl")
                .groupBy("id", "lbl")
                .agg(F.count("*").alias("c"))
                .select(
                    "id",
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lbl").alias("lbl")
                    ).alias("s"),
                )
                .groupBy("id")
                .agg(F.min("s").alias("s"))
                .select("id", F.col("s.lbl").alias("new_lbl"))
            )
            yield labels.join(bcast(winner), "id", "left").select(
                "id", F.coalesce("new_lbl", "lbl").alias("lbl")
            )

        (labels,), _ = iterate(
            step, (labels0,), (e,), rounds=maxIter, size=e.count(),
            owned=(e, labels0),
        )
        return labels.select("id", F.col("lbl").alias("label"))

    def triplets(self) -> DataFrame:
        """(src, edge, dst) struct columns — the GraphFrames triplet
        view backing aggregateMessages."""
        vcols = self.vertices.columns
        ecols = self.edges.columns
        sv = self.vertices.select(
            F.col("id").alias("__sid"), F.struct(*vcols).alias("src")
        )
        dv = self.vertices.select(
            F.col("id").alias("__did"), F.struct(*vcols).alias("dst")
        )
        return (
            self.edges.select(F.struct(*ecols).alias("edge"))
            .join(sv, F.col("edge.src") == F.col("__sid"))
            .join(dv, F.col("edge.dst") == F.col("__did"))
            .select("src", "edge", "dst")
        )

    def aggregateMessages(
        self,
        agg,
        sendToSrc: str | None = None,
        sendToDst: str | None = None,
    ) -> DataFrame:
        """GraphFrames aggregateMessages: evaluate the send expressions
        (SQL strings over the triplet columns ``src``/``edge``/``dst``)
        per edge, deliver to the edge's src/dst vertex, aggregate per
        vertex with ``agg`` (a Column over the ``msg`` column).
        Returns (id, agg-result)."""
        if sendToSrc is None and sendToDst is None:
            raise ValueError("need sendToSrc and/or sendToDst")
        t = self.triplets()
        parts = []
        if sendToSrc is not None:
            parts.append(
                t.select(
                    F.col("src.id").alias("id"), F.expr(sendToSrc).alias("msg")
                )
            )
        if sendToDst is not None:
            parts.append(
                t.select(
                    F.col("dst.id").alias("id"), F.expr(sendToDst).alias("msg")
                )
            )
        msgs = reduce(lambda a, b: a.unionByName(b), parts)
        return msgs.where(F.col("msg").isNotNull()).groupBy("id").agg(agg)

    def bfs(
        self, fromExpr: str, toExpr: str, maxPathLength: int = 10
    ) -> DataFrame:
        """GraphFrames bfs: shortest directed paths from vertices
        matching ``fromExpr`` to vertices matching ``toExpr`` (SQL
        predicates over vertex attributes). Returns the GraphFrames
        result shape — struct columns ``from, e0, v1, e1, …, to`` —
        for the FIRST depth at which any match exists (all matches at
        that depth, nothing deeper). Zero-length matches (a vertex
        satisfying both) return just ``from``/``to``.

        Each expansion is one edges⋈frontier join; the per-depth
        existence probe is a cheap ``isEmpty`` on a lazy limit-1 plan,
        so the driver never pulls path data."""
        vcols = self.vertices.columns
        ecols = self.edges.columns
        src_v = self.vertices.where(F.expr(fromExpr))
        targets = self.vertices.where(F.expr(toExpr)).select(
            F.col("id").alias("__tid")
        )

        zero = (
            src_v.where(F.expr(toExpr))
            .select(F.struct(*vcols).alias("from"))
            .withColumn("to", F.col("from"))
        )
        if not zero.isEmpty():
            return zero

        # frontier carries (from-struct, path structs so far, __cur);
        # GraphFrames allows revisits on a path, mirrored here
        frontier = src_v.select(
            F.struct(*vcols).alias("from"), F.col("id").alias("__cur")
        )
        for depth in range(maxPathLength):
            estruct = self.edges.select(
                F.struct(*ecols).alias(f"e{depth}"),
                F.col("src").alias("__cur"),
                F.col("dst").alias("__nxt"),
            )
            vstruct = self.vertices.select(
                F.col("id").alias("__nxt"), F.struct(*vcols).alias(f"v{depth + 1}")
            )
            frontier = (
                frontier.join(estruct, "__cur")
                .join(vstruct, "__nxt")
                .drop("__cur")
                .withColumnRenamed("__nxt", "__cur")
                .localCheckpoint(eager=True)
            )
            hits = frontier.join(
                targets, F.col("__cur") == F.col("__tid"), "left_semi"
            )
            if not hits.limit(1).isEmpty():
                out_cols = ["from"]
                for d in range(depth):
                    out_cols += [f"e{d}", f"v{d + 1}"]
                out_cols.append(f"e{depth}")
                return hits.withColumnRenamed(f"v{depth + 1}", "to").select(
                    *out_cols, "to"
                )
        return frontier.limit(0).select("from", F.col("from").alias("to"))

    # -- queries -----------------------------------------------------------
    def kHop(self, seeds: DataFrame, k: int = 2, labeled: bool = False) -> DataFrame:
        """Reachable-vertex set (or (id, hop) with ``labeled=True``) —
        the reference's 2-hop suspicious-entity filter as a graph verb."""
        fn = k_hop_labeled if labeled else k_hop
        return fn(self.edges, seeds, k=k)

    def find_chain(self, n: int = 2) -> DataFrame:
        """Motif "(v0)-[]->(v1); (v1)-[]->(v2); …" — n-edge directed
        chains, the motif shape behind the reference's neighborhood
        queries. Returns columns v0..vn. Distinct vertex constraint is
        NOT applied (GraphFrames semantics)."""
        if n < 1:
            raise ValueError("n >= 1")
        chains = self.edges.select(
            F.col("src").alias("v0"), F.col("dst").alias("v1")
        )
        for i in range(1, n):
            nxt = self.edges.select(
                F.col("src").alias(f"v{i}"), F.col("dst").alias(f"v{i + 1}")
            )
            chains = chains.join(nxt, f"v{i}")
        return chains.select(*[f"v{i}" for i in range(n + 1)])

    def find(self, pattern: str, allow_cartesian: bool = False) -> DataFrame:
        """GraphFrames motif search: semicolon-separated edge terms
        ``(a)-[e]->(b)``, anonymous vertices/edges via empty names,
        negated terms via a ``!`` prefix (``!(a)-[]->(b)``).

        Returns one struct column per named vertex (the full vertex
        row) and per named edge (the full edge row) — the GraphFrames
        result shape. Terms sharing a vertex name join on it; negated
        terms become anti-joins and may only use vertices bound by
        positive terms. Everything compiles to plain equi-joins, so
        Catalyst reorders/broadcasts as usual.

        Positive terms are compiled in CONNECTED order (greedy: always
        join a term sharing a vertex with the matched prefix), so a
        connected pattern never pays a cartesian product regardless of
        how its terms are written. Patterns whose term graph is
        genuinely disconnected imply an |A|×|B| cross product
        (GraphFrames semantics) — |E|^k rows at scale — and raise
        unless ``allow_cartesian=True`` explicitly opts in (r5 VERDICT
        item 7: an unbounded implicit cross product is a driver-OOM /
        shuffle bomb on a production edge set)."""
        pos, neg = _parse_motif(pattern)
        if not pos:
            raise ValueError("pattern needs at least one positive edge term")

        edge_attrs = self.edges.columns

        def term_df(t: "_MotifTerm", idx: int) -> DataFrame:
            cols = [
                F.col("src").alias(f"__v_{t.src}" if t.src else f"__anon_{idx}_s"),
                F.col("dst").alias(f"__v_{t.dst}" if t.dst else f"__anon_{idx}_d"),
            ]
            if t.edge:
                cols.append(F.struct(*edge_attrs).alias(t.edge))
            return self.edges.select(*cols)

        out = term_df(pos[0], 0)
        bound = {c for c in out.columns if c.startswith("__v_")}
        remaining = list(enumerate(pos))[1:]
        while remaining:
            pick = next(
                (
                    (i, t)
                    for i, t in remaining
                    if {f"__v_{v}" for v in (t.src, t.dst) if v} & bound
                ),
                None,
            )
            if pick is None:
                # no remaining term touches the matched component
                if not allow_cartesian:
                    raise ValueError(
                        f"motif pattern {pattern!r} has disconnected "
                        "components: their match sets combine as a "
                        "cartesian product (|A| x |B| rows). Pass "
                        "allow_cartesian=True to opt in, or connect "
                        "the components through a shared vertex name."
                    )
                pick = remaining[0]
            i, t = pick
            remaining.remove(pick)
            df = term_df(t, i)
            shared = [c for c in df.columns if c in bound]
            if shared:
                out = out.join(df, shared)
            else:
                out = out.crossJoin(df)
            bound |= {c for c in df.columns if c.startswith("__v_")}

        for i, t in enumerate(neg):
            for v in (t.src, t.dst):
                if not v or f"__v_{v}" not in bound:
                    raise ValueError(
                        f"negated term vertex ({v}) must be bound by a positive term"
                    )
            n = self.edges.select(
                F.col("src").alias(f"__v_{t.src}"), F.col("dst").alias(f"__v_{t.dst}")
            )
            out = out.join(n, [f"__v_{t.src}", f"__v_{t.dst}"], "left_anti")

        # attach vertex-attribute structs for every named vertex
        vcols = self.vertices.columns
        named = sorted(c[len("__v_"):] for c in bound)
        for v in named:
            vstruct = self.vertices.select(
                F.col("id").alias(f"__v_{v}"), F.struct(*vcols).alias(v)
            )
            out = out.join(vstruct, f"__v_{v}")
        edge_names = [t.edge for t in pos if t.edge]
        return out.select(*named, *edge_names)


def from_edges(edges: DataFrame) -> PropertyGraph:
    """Build a PropertyGraph with the vertex set implied by the edges."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return PropertyGraph(verts, edges)
