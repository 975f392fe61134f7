"""PropertyGraph facade tests: GraphFrames-shaped surface, known-graph
golden checks, and parity with the underlying operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.frames import PropertyGraph, from_edges


@pytest.fixture(scope="module")
def g(spark):
    #   1 -> 2 -> 3 -> 1   (directed triangle)
    #   3 -> 4            (tail)
    #   5                 (isolated vertex)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    return PropertyGraph(verts, edges)


class TestDegrees:
    def test_in_out_degrees(self, g):
        ind = {r["id"]: r["inDegree"] for r in g.inDegrees.collect()}
        outd = {r["id"]: r["outDegree"] for r in g.outDegrees.collect()}
        assert ind == {2: 1, 3: 1, 1: 1, 4: 1}
        assert outd == {1: 1, 2: 1, 3: 2}

    def test_total_degrees(self, g):
        deg = {r["id"]: r["degree"] for r in g.degrees.collect()}
        assert deg == {1: 2, 2: 2, 3: 3, 4: 1}


class TestComponents:
    def test_components_and_isolated(self, g):
        comp = {r["id"]: r["component"] for r in g.connectedComponents().collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}


class TestPageRank:
    def test_ranks_sum_to_one_and_isolated_gets_zero(self, g):
        pr = {r["id"]: r["pagerank"] for r in g.pageRank(maxIter=5).collect()}
        assert pr[5] == 0.0
        assert abs(sum(pr.values()) - 1.0) < 1e-6


class TestTriangles:
    def test_known_triangle(self, g):
        tc = {r["id"]: r["count"] for r in g.triangleCount().collect()}
        assert tc == {1: 1, 2: 1, 3: 1, 4: 0, 5: 0}

    def test_direction_ignored(self, spark):
        # same triangle with mixed edge directions + a duplicate edge
        edges = spark.createDataFrame(
            [(2, 1), (2, 3), (3, 1), (1, 2)], ["src", "dst"]
        )
        tc = {
            r["id"]: r["count"] for r in from_edges(edges).triangleCount().collect()
        }
        assert tc == {1: 1, 2: 1, 3: 1}


class TestMotifAndKHop:
    def test_chain_motif(self, g):
        chains = {
            (r["v0"], r["v1"], r["v2"]) for r in g.find_chain(2).collect()
        }
        assert (1, 2, 3) in chains and (2, 3, 4) in chains and (2, 3, 1) in chains
        # every chain is two real edges
        assert all(len(c) == 3 for c in chains)

    def test_khop_matches_motif_reach(self, g, spark):
        seeds = spark.createDataFrame([(1,)], ["id"])
        reach = {r["id"] for r in g.kHop(seeds, k=2).collect()}
        # 0-hop {1} ∪ 1-hop {2} ∪ 2-hop {3}
        assert reach == {1, 2, 3}

    def test_khop_labeled_min_hop(self, g, spark):
        seeds = spark.createDataFrame([(1,)], ["id"])
        hops = {r["id"]: r["hop"] for r in g.kHop(seeds, k=3, labeled=True).collect()}
        assert hops == {1: 0, 2: 1, 3: 2, 4: 3}


class TestMotifFind:
    """General GraphFrames-DSL motif search (SURVEY §2.7 G2-G3
    mapping), checked against find_chain / k-hop ground truth."""

    def test_two_edge_chain_matches_find_chain(self, g):
        got = {
            (r["a"]["id"], r["b"]["id"], r["c"]["id"])
            for r in g.find("(a)-[]->(b); (b)-[]->(c)").collect()
        }
        want = {
            (r["v0"], r["v1"], r["v2"]) for r in g.find_chain(2).collect()
        }
        assert got == want and len(want) > 0

    def test_named_edge_struct(self, g):
        rows = g.find("(a)-[e]->(b)").collect()
        assert {(r["e"]["src"], r["e"]["dst"]) for r in rows} == {
            (1, 2), (2, 3), (3, 1), (3, 4),
        }
        # vertex structs carry the full vertex row
        assert all(r["a"]["id"] == r["e"]["src"] for r in rows)

    def test_negated_term(self, g):
        # edges without a reciprocal: all of them (the triangle is
        # directed one way, the tail has no return edge)
        got = {
            (r["a"]["id"], r["b"]["id"])
            for r in g.find("(a)-[]->(b); !(b)-[]->(a)").collect()
        }
        assert got == {(1, 2), (2, 3), (3, 1), (3, 4)}

    def test_negated_term_filters_reciprocal(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3)], ["src", "dst"]
        )
        g2 = from_edges(edges)
        got = {
            (r["a"]["id"], r["b"]["id"])
            for r in g2.find("(a)-[]->(b); !(b)-[]->(a)").collect()
        }
        assert got == {(2, 3)}

    def test_anonymous_vertex(self, g):
        # vertices with any outgoing edge
        got = {r["a"]["id"] for r in g.find("(a)-[]->()").collect()}
        assert got == {1, 2, 3}

    def test_disconnected_terms_require_opt_in(self, spark):
        """A genuinely disconnected pattern implies an |A|x|B| product
        and must fail closed (r5 VERDICT item 7) ..."""
        import pytest

        edges = spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
        g2 = from_edges(edges)
        with pytest.raises(ValueError, match="disconnected"):
            g2.find("(a)-[]->(b); (c)-[]->(d)")

    def test_disconnected_terms_cartesian_when_allowed(self, spark):
        """... while the explicit opt-in keeps GraphFrames semantics."""
        edges = spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
        g2 = from_edges(edges)
        rows = g2.find("(a)-[]->(b); (c)-[]->(d)", allow_cartesian=True).collect()
        # 2 edges × 2 edges = 4 combinations (GraphFrames cartesian)
        assert len(rows) == 4

    def test_connected_but_badly_ordered_pattern_avoids_cartesian(self, g):
        """Terms written disconnected-first but joined by a LATER term
        must compile via the connecting term (greedy connected order):
        no opt-in needed, no crossJoin in the plan, and the row set
        matches the 2-chain motif."""
        df = g.find("(a)-[]->(b); (c)-[]->(d); (b)-[]->(c)")
        assert "CartesianProduct" not in df._jdf.queryExecution().executedPlan().toString()
        got = {
            (r["a"]["id"], r["b"]["id"], r["c"]["id"], r["d"]["id"])
            for r in df.collect()
        }
        chains = {
            (r["a"]["id"], r["b"]["id"], r["c"]["id"])
            for r in g.find("(a)-[]->(b); (b)-[]->(c)").collect()
        }
        expect = {
            (a, b, c, d)
            for (a, b, c) in chains
            for (x, c2, d) in (
                (r["a"]["id"], r["a"]["id"], r["b"]["id"])
                for r in g.find("(a)-[]->(b)").collect()
            )
            if c2 == c
        }
        assert got == expect

    def test_triangle_motif_matches_triangle_count(self, g):
        tri = g.find("(a)-[]->(b); (b)-[]->(c); (c)-[]->(a)").collect()
        # directed triangle 1->2->3->1 found from each rotation
        assert {(r["a"]["id"], r["b"]["id"], r["c"]["id"]) for r in tri} == {
            (1, 2, 3), (2, 3, 1), (3, 1, 2),
        }

    def test_errors(self, g):
        import pytest as _pt

        with _pt.raises(ValueError):
            g.find("(a)-[e]->(b); (b)-[e]->(c)")  # duplicate edge name
        with _pt.raises(ValueError):
            g.find("!(a)-[]->(b)")  # no positive term
        with _pt.raises(ValueError):
            g.find("(a)-[]->(b); !(b)-[]->(z)")  # unbound negation vertex
        with _pt.raises(ValueError):
            g.find("(a)->(b)")  # bad grammar


class TestShortestPaths:
    def test_known_distances(self, g):
        # graph: 1->2->3->1 triangle, 3->4 tail; landmark 1
        d = {
            (r["id"], r["landmark"]): r["dist"]
            for r in g.shortestPaths([1]).collect()
        }
        assert d == {(1, 1): 0, (3, 1): 1, (2, 1): 2}
        # vertex 4 has no outgoing path to 1 -> absent

    def test_multiple_landmarks(self, g):
        d = {
            (r["id"], r["landmark"]): r["dist"]
            for r in g.shortestPaths([1, 4]).collect()
        }
        assert d[(3, 4)] == 1 and d[(1, 4)] == 3 and d[(2, 4)] == 2
        assert d[(4, 4)] == 0 and (4, 1) not in d


class TestLabelPropagation:
    def test_deterministic_and_total(self, g):
        a = sorted(map(tuple, g.labelPropagation(maxIter=3).collect()))
        b = sorted(map(tuple, g.labelPropagation(maxIter=3).collect()))
        assert a == b
        assert {x[0] for x in a} == {1, 2, 3, 4, 5}  # every vertex labeled

    def test_two_cliques_two_communities(self, spark):
        # two triangles joined by nothing: communities = the cliques
        tri = lambda a, b, c: [(a, b), (b, a), (b, c), (c, b), (a, c), (c, a)]
        edges = spark.createDataFrame(tri(1, 2, 3) + tri(10, 11, 12), ["src", "dst"])
        lp = from_edges(edges).labelPropagation(maxIter=5)
        comm = {r["id"]: r["label"] for r in lp.collect()}
        assert len({comm[1], comm[2], comm[3]}) == 1
        assert len({comm[10], comm[11], comm[12]}) == 1
        assert comm[1] != comm[10]


class TestAggregateMessages:
    def test_in_degree_via_messages(self, g):
        got = {
            r["id"]: r["cnt"]
            for r in g.aggregateMessages(
                F.count("msg").alias("cnt"), sendToDst="1"
            ).collect()
        }
        want = {r["id"]: r["inDegree"] for r in g.inDegrees.collect()}
        assert got == want

    def test_neighbor_id_sum(self, g):
        # each edge sends dst id to src: sum of out-neighbor ids
        got = {
            r["id"]: r["s"]
            for r in g.aggregateMessages(
                F.sum("msg").alias("s"), sendToSrc="dst.id"
            ).collect()
        }
        assert got == {1: 2, 2: 3, 3: 5}

    def test_requires_a_direction(self, g):
        import pytest as _pt

        with _pt.raises(ValueError):
            g.aggregateMessages(F.count("msg"))


class TestBfs:
    def test_shortest_path_structs(self, g):
        # 1 -> 2 -> 3: shortest 1-to-3 path has length 2
        rows = g.bfs("id = 1", "id = 3").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["from"]["id"] == 1 and r["to"]["id"] == 3
        assert (r["e0"]["src"], r["e0"]["dst"]) == (1, 2)
        assert r["v1"]["id"] == 2
        assert (r["e1"]["src"], r["e1"]["dst"]) == (2, 3)

    def test_first_depth_only(self, g):
        # 3 -> 1 direct: depth-1 path returned, the 3->1 via 3-step
        # cycle is NOT (GraphFrames returns shortest only)
        rows = g.bfs("id = 3", "id = 1").collect()
        assert len(rows) == 1
        assert "v1" not in rows[0].asDict()

    def test_zero_length_match(self, g):
        rows = g.bfs("id = 2", "id = 2").collect()
        assert len(rows) == 1
        assert rows[0]["from"]["id"] == 2 and rows[0]["to"]["id"] == 2

    def test_unreachable_is_empty(self, g):
        # vertex 5 is isolated
        assert g.bfs("id = 1", "id = 5", maxPathLength=4).count() == 0

    def test_multiple_sources_and_targets(self, g):
        rows = g.bfs("id IN (1, 2)", "id = 3").collect()
        # shortest depth with any hit: 2->3 at depth 1; 1's depth-2
        # path must NOT appear
        assert {r["from"]["id"] for r in rows} == {2}


class TestClusteringHybrid:
    """Degree-capped hybrid for local clustering coefficients: hub
    vertices must route through the shuffle wedge join and produce the
    same counts the broadcast tier would."""

    def _fixture_edges(self, spark):
        # hub 0 wired to 1..20 (deg 20); triangles (0,1,2), (0,3,4),
        # (0,5,6); a hub-free triangle (21,22,23); a dangling edge
        edges = [(0, k) for k in range(1, 21)]
        edges += [(1, 2), (3, 4), (5, 6)]
        edges += [(21, 22), (21, 23), (22, 23), (24, 25)]
        return spark.createDataFrame(edges, "u long, v long")

    def _expected(self):
        import itertools

        edges = {(0, k) for k in range(1, 21)}
        edges |= {(1, 2), (3, 4), (5, 6), (21, 22), (21, 23), (22, 23), (24, 25)}
        nbrs: dict[int, set[int]] = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        out = {}
        for v, ns in nbrs.items():
            d = len(ns)
            if d < 2:
                continue
            tri = sum(
                1 for a, b in itertools.combinations(sorted(ns), 2)
                if b in nbrs[a]
            )
            out[v] = (d, tri, round(2.0 * tri / (d * (d - 1)), 6))
        return out

    @pytest.mark.parametrize("deg_cap", [5, 10**9])
    def test_hub_and_broadcast_tiers_agree(self, spark, deg_cap):
        from erkg_tutorials_spark.plans.graphq import clustering_from_edges

        got = {
            r.id: (r.deg, r.tri, r.coeff)
            for r in clustering_from_edges(
                self._fixture_edges(spark), deg_cap=deg_cap
            ).collect()
        }
        assert got == self._expected()

    def test_low_cap_actually_routes_hub_edges(self, spark):
        """With cap=5 the hub's 20 incident edges must leave the
        broadcast tier (sanity that the parametrized case above really
        exercised the shuffle path)."""
        from erkg_tutorials_spark.plans.graphq import clustering_from_edges

        df = clustering_from_edges(self._fixture_edges(spark), deg_cap=5)
        plan = df._jdf.queryExecution().analyzed().toString()
        # the wedge-join branch is present (its `w` column exists) and
        # unions with the broadcast tier
        import re

        assert re.search(r"\bw#\d+", plan), plan
        assert "Union" in plan


class TestWeightedSssp:
    def test_source_zero_and_relaxation_invariants(self, spark):
        from erkg_tutorials_spark.plans.graphq import (
            SSSP_SOURCE,
            g_weighted_sssp,
        )
        from tests.conftest import SF_DIR

        rows = {r.id: r.min_cost for r in g_weighted_sssp(spark, SF_DIR).collect()}
        assert rows[SSSP_SOURCE] == 0.0
        # every non-source cost is positive and every reached vertex's
        # cost is at least the cheapest single edge in the graph
        others = {k: v for k, v in rows.items() if k != SSSP_SOURCE}
        assert others
        assert all(v > 0 for v in others.values())

    def test_more_hops_never_worse(self, spark):
        # H+1 rounds can only lower costs (relaxation is monotone)
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.plans import graphq
        from tests.conftest import SF_DIR

        base = {r.id: r.min_cost for r in graphq.g_weighted_sssp(spark, SF_DIR).collect()}
        orig = graphq.SSSP_HOPS
        graphq.SSSP_HOPS = orig + 1
        try:
            more = {r.id: r.min_cost for r in graphq.g_weighted_sssp(spark, SF_DIR).collect()}
        finally:
            graphq.SSSP_HOPS = orig
        for vid, cost in base.items():
            assert more[vid] <= cost + 1e-9
        assert set(base) <= set(more)


class TestGraphXRoute:
    """r11 (r10 VERDICT item 3): above the measured crossover
    (GRAPHX_MIN_EDGES, SCALING.md r11 A/B: GraphX wins 70 vs 125 s at
    117M edges) pagerank() routes through classpath GraphX for the
    semantics the engines provably share. These tests force the route
    (threshold 0) and pin (a) 6dp parity with the DF loop on the real
    trade graph, and (b) that the guarded cases never route."""

    def test_routed_matches_loop_6dp(self, spark, monkeypatch):
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.graph.pagerank import pagerank
        from erkg_tutorials_spark.plans.graphq import trade_edges_sym
        from tests.conftest import SF_DIR

        e = trade_edges_sym(spark, SF_DIR)
        monkeypatch.delenv("SPARK_GRAFT_GRAPHX_MIN_EDGES", raising=False)
        loop = {
            r["id"]: r["rank"]
            for r in pagerank(e, max_iter=6)
            .select("id", F.round("rank", 6).alias("rank")).collect()
        }
        monkeypatch.setenv("SPARK_GRAFT_GRAPHX_MIN_EDGES", "0")
        routed_df = pagerank(e, max_iter=6)
        routed = {
            r["id"]: r["rank"]
            for r in routed_df
            .select("id", F.round("rank", 6).alias("rank")).collect()
        }
        assert routed == loop
        # contract: ranks sum to 1
        total = routed_df.agg(F.sum("rank")).collect()[0][0]
        assert abs(total - 1.0) < 1e-9

    def test_guarded_cases_never_route(self, spark, monkeypatch):
        """weighted / warm-start / namespaced calls must stay on the
        DF loop even under a forced threshold — GraphX's staticPageRank
        has no dangling handling, no weights, no warm start."""
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.graph import pagerank as prmod
        from erkg_tutorials_spark.plans.graphq import trade_edges_sym
        from tests.conftest import SF_DIR

        e = trade_edges_sym(spark, SF_DIR)
        # build the warm-start vector BEFORE forcing the threshold —
        # the helper call is itself the routable plain case
        monkeypatch.delenv("SPARK_GRAFT_GRAPHX_MIN_EDGES", raising=False)
        init = prmod.pagerank(e, max_iter=1)

        monkeypatch.setenv("SPARK_GRAFT_GRAPHX_MIN_EDGES", "0")
        calls = []
        orig = prmod._pagerank_graphx

        def spy(*a, **k):
            calls.append(1)
            return orig(*a, **k)

        monkeypatch.setattr(prmod, "_pagerank_graphx", spy)
        # weighted: guarded
        ew = e.withColumn("w", F.lit(2.0))
        prmod.pagerank(ew, max_iter=2, weight="w").count()
        # warm start: guarded
        prmod.pagerank(e, max_iter=1, init_ranks=init).count()
        assert calls == []
        # the plain case DOES route under the forced threshold
        prmod.pagerank(e, max_iter=1).count()
        assert calls == [1]


class TestGraphXCCRoute:
    """r12 (r11 VERDICT item 3): above the measured crossover
    (CC_GRAPHX_MIN_EDGES; tools/graphx_cc_ab.py A/B: GraphX 16.5 vs
    62.6 s at 5.9M edges, 39.3 vs 619.4 s at 58.7M, partition-equal
    parity at every point) connected_components() routes through
    classpath GraphX. The routed frame must be IDENTICAL to the DF
    loop's — same (id, component) rows with component = the minimum
    reachable ORIGINAL id — because g6/er_resolve_merge hash-compare
    against oracles that replay the loop semantics."""

    def test_routed_frame_identical_to_loop(self, spark, monkeypatch):
        from erkg_tutorials_spark.graph.connected_components import (
            connected_components,
        )
        from erkg_tutorials_spark.plans.graphq import trade_edges_fwd
        from tests.conftest import SF_DIR

        e = trade_edges_fwd(spark, SF_DIR)
        monkeypatch.delenv("SPARK_GRAFT_CC_GRAPHX_MIN_EDGES", raising=False)
        loop = sorted(
            map(tuple, connected_components(e, input_canonical=True).collect())
        )
        monkeypatch.setenv("SPARK_GRAFT_CC_GRAPHX_MIN_EDGES", "0")
        routed = sorted(
            map(tuple, connected_components(e, input_canonical=True).collect())
        )
        assert routed == loop

    def test_default_threshold_never_routes_small_graphs(
        self, spark, monkeypatch
    ):
        from erkg_tutorials_spark.graph import connected_components as ccmod
        from erkg_tutorials_spark.plans.graphq import trade_edges_fwd
        from tests.conftest import SF_DIR

        monkeypatch.delenv("SPARK_GRAFT_CC_GRAPHX_MIN_EDGES", raising=False)
        calls = []
        orig = ccmod._cc_graphx

        def spy(*a, **k):
            calls.append(1)
            return orig(*a, **k)

        monkeypatch.setattr(ccmod, "_cc_graphx", spy)
        e = trade_edges_fwd(spark, SF_DIR)
        ccmod.connected_components(e, input_canonical=True).count()
        assert calls == []  # test graphs are far below 2M edges
        monkeypatch.setenv("SPARK_GRAFT_CC_GRAPHX_MIN_EDGES", "0")
        ccmod.connected_components(e, input_canonical=True).count()
        assert calls == [1]
