"""Semantic invariants for the Jones-Plassmann greedy coloring
(plans/graphq.py::g_greedy_coloring) — the oracle gate proves
Spark==DuckDB on the same fixed-round unrolling; these tests
prove the unrolling computes a REAL coloring at test scale: proper
(no edge monochromatic), total (every vertex colored within the fixed
layer budget), and layer-wise independent.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from erkg_tutorials_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="module")
def graph(spark):
    from erkg_tutorials_spark.plans.graphq import trade_edges_sym

    rows = trade_edges_sym(spark, SF_DIR).collect()
    edges = {(r.src, r.dst) for r in rows}
    verts = {s for s, _ in edges} | {d for _, d in edges}
    return edges, verts


@pytest.fixture(scope="module")
def coloring(spark):
    from erkg_tutorials_spark.plans.graphq import g_greedy_coloring

    return {
        r.id: r.color for r in g_greedy_coloring(spark, SF_DIR).collect()
    }


class TestGreedyColoring:
    def test_total(self, graph, coloring):
        """Every vertex is colored within the fixed layer budget —
        the 'none remain undecided' half of the module contract."""
        _, verts = graph
        assert set(coloring) == verts

    def test_proper(self, graph, coloring):
        """No edge is monochromatic — the coloring is valid."""
        edges, _ = graph
        bad = [
            (s, d)
            for s, d in edges
            if s in coloring and d in coloring and coloring[s] == coloring[d]
        ]
        assert bad == []

    def test_each_vertex_once(self, spark):
        from erkg_tutorials_spark.plans.graphq import g_greedy_coloring

        df = g_greedy_coloring(spark, SF_DIR)
        assert df.count() == df.select("id").distinct().count()

    def test_coloring_parity_without_broadcast_hints(
        self, spark, coloring, monkeypatch
    ):
        """The 100x-scale path (graph/hints.py force-disabled: every
        |V|-row state join co-shuffles on the vertex key instead of
        broadcasting) must produce the IDENTICAL coloring — and the
        identical label propagation, whose label broadcast obeys the
        same knob — the hint is a physical-plan choice, never a
        semantic one."""
        from erkg_tutorials_spark.graph.coloring import greedy_coloring
        from erkg_tutorials_spark.graph.frames import from_edges
        from erkg_tutorials_spark.plans.graphq import trade_edges_sym

        edges = trade_edges_sym(spark, SF_DIR)

        def labels():
            lp = from_edges(edges).labelPropagation(maxIter=3)
            return sorted(map(tuple, lp.collect()))

        hinted_labels = labels()
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_BCAST", "0")
        no_hint = {
            r.id: r.color for r in greedy_coloring(edges).collect()
        }
        assert no_hint == coloring
        assert labels() == hinted_labels

    def test_vhint_threshold_and_knob(self, monkeypatch):
        """vhint drops the hint above the row threshold and under the
        force-disable knob; below both, the plan carries the hint."""
        from erkg_tutorials_spark.graph import hints

        class _Probe:
            def hint(self, *_):  # pragma: no cover - not reached
                raise AssertionError("should not hint")

        probe = _Probe()
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_BCAST_MAX_ROWS", "100")
        assert hints.vhint(probe, rows=101) is probe
        monkeypatch.setenv("SPARK_GRAFT_GRAPH_BCAST", "0")
        assert hints.vhint(probe) is probe
        assert hints.vhint(probe, rows=5) is probe

    def test_uses_few_colors_on_bipartite_trade_graph(self, coloring):
        """The trade graph is customer↔supplier bipartite (χ=2); the
        greedy choice may exceed 2 but must stay far inside the bit-
        mask budget — a regression here means the priority rounds
        stopped breaking symmetry."""
        from erkg_tutorials_spark.graph.coloring import MAX_COLORS

        assert None not in coloring.values()
        used = max(coloring.values()) + 1
        assert used <= MAX_COLORS // 2
