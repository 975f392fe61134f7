"""Semantic invariants for the Borůvka MST forest and Luby MIS
(plans/graphq.py) — the oracle gate proves Spark==DuckDB on the same
fixed-round unrolling; these tests prove the unrolling computes the
REAL structures at test scale: the forest is acyclic, spanning, and
weight-optimal against a pure-Python Kruskal; the MIS is independent
and maximal.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from erkg_tutorials_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="module")
def wedges(spark):
    from erkg_tutorials_spark.plans.graphq import trade_wedges_sym

    rows = trade_wedges_sym(spark, SF_DIR).collect()
    # canonical undirected weighted edge set
    return {
        (min(r.src, r.dst), max(r.src, r.dst)): r.w
        for r in rows
    }


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        self.p[ra] = rb
        return True


def _kruskal_weight(wedges) -> tuple[int, int]:
    uf = _UF()
    total = n = 0
    for (a, b), w in sorted(wedges.items(), key=lambda kv: (kv[1], kv[0])):
        if uf.union(a, b):
            total += w
            n += 1
    return total, n


class TestMST:
    @pytest.fixture(scope="class")
    def forest(self, spark):
        from erkg_tutorials_spark.plans.graphq import g_mst_forest

        return g_mst_forest(spark, SF_DIR).collect()

    def test_edges_exist_with_true_weights(self, forest, wedges):
        for r in forest:
            assert wedges[(r.edge_a, r.edge_b)] == r.weight

    def test_forest_is_acyclic_and_spanning(self, forest, wedges):
        uf = _UF()
        for r in forest:
            assert uf.union(r.edge_a, r.edge_b), (
                f"cycle: ({r.edge_a},{r.edge_b}) rejoins its component"
            )
        verts = {v for e in wedges for v in e}
        _, n_mst = _kruskal_weight(wedges)
        # same number of merges as a full Kruskal run = spans every
        # connected component
        assert len(forest) == n_mst
        assert len(verts) - len(forest) == len(
            {uf.find(v) for v in verts}
        )

    def test_total_weight_matches_kruskal(self, forest, wedges):
        # every MST of a graph has the same total weight, ties included
        want, _ = _kruskal_weight(wedges)
        assert sum(r.weight for r in forest) == want


class TestMIS:
    @pytest.fixture(scope="class")
    def mis(self, spark):
        from erkg_tutorials_spark.plans.graphq import g_mis_luby

        return {r.id for r in g_mis_luby(spark, SF_DIR).collect()}

    def test_independent(self, mis, wedges):
        for a, b in wedges:
            assert not (a in mis and b in mis), f"edge ({a},{b}) inside MIS"

    def test_maximal_and_converged(self, mis, wedges):
        # every non-member has a member neighbor (maximality) — which
        # also proves no vertex was left undecided by the fixed rounds
        nbrs: dict = {}
        for a, b in wedges:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        for v, nv in nbrs.items():
            if v not in mis:
                assert nv & mis, f"{v} undecided or MIS not maximal"


class TestNoHintParity:
    """graph/hints.py force-disabled (SPARK_GRAFT_GRAPH_BCAST=0, the
    10^9-vertex co-shuffle path) must give the IDENTICAL forest and
    MIS — widens the r10 coloring parity gate across the hint-using
    family (the hint is physical, never semantic)."""

    def test_mis_parity_without_hints(self, spark, monkeypatch):
        from erkg_tutorials_spark.graph.mis import luby_mis
        from erkg_tutorials_spark.plans.graphq import trade_edges_sym

        e = trade_edges_sym(spark, SF_DIR)
        hinted = {(r.id, r["round"]) for r in luby_mis(e).collect()}
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_BCAST", "0")
        bare = {(r.id, r["round"]) for r in luby_mis(e).collect()}
        assert bare == hinted

    def test_mst_parity_without_hints(self, spark, monkeypatch):
        from erkg_tutorials_spark.graph.mst import boruvka_forest
        from erkg_tutorials_spark.plans.graphq import trade_wedges_sym

        e = trade_wedges_sym(spark, SF_DIR)
        hinted = {
            (r.edge_a, r.edge_b, r.weight)
            for r in boruvka_forest(e).collect()
        }
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_BCAST", "0")
        bare = {
            (r.edge_a, r.edge_b, r.weight)
            for r in boruvka_forest(e).collect()
        }
        assert bare == hinted


class TestIncrementalPR:
    def test_warm_start_matches_cold_convergence(self, spark):
        """The maintenance contract: 6 base iterations + 3 warm
        iterations over the updated graph must land on (essentially)
        the same top-20 as a cold 8-iteration run on the full graph —
        that closeness is WHY phase 2 alone suffices per batch."""
        from erkg_tutorials_spark.plans.graphq import g5_pagerank_top20
        from erkg_tutorials_spark.plans.graphq import g_pagerank_incremental

        warm = [r.id for r in g_pagerank_incremental(spark, SF_DIR).collect()]
        cold = [r.id for r in g5_pagerank_top20(spark, SF_DIR).collect()]
        assert len(set(warm) & set(cold)) >= 18, (warm, cold)
        # the head of the ranking must agree as a SET (adjacent ranks
        # differ in the 7th decimal at sf0.001, so exact order between
        # 8 cold and 6+3 warm iterations is not a stable contract)
        assert set(warm[:5]) == set(cold[:5]), (warm[:5], cold[:5])
