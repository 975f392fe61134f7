"""Flat-loop / ``symmetric`` guards (graph/pagerank.py).

Un-namespaced PageRank counts |V| driver-side (no per-row ``n``
column) and skips the per-iteration verts left-join when every vertex
has an in-edge — asserted by ``symmetric=True`` callers, probed once
per call otherwise. These tests pin the load-bearing invariants:

* a vertex with out-edges but NO in-edges (directed chain head) must
  still appear in the output with the pure-reset rank under the
  default probe (which must detect incompleteness);
* ``symmetric=True`` on a genuinely mirrored graph is bit-identical to
  the default probe and to the forced verts join, unweighted and
  weighted;
* a run with one namespace — per-row ``n`` column, verts join always
  on, per-namespace dangling sum — is bit-identical to the
  un-namespaced run on a graph with both a dangler and an
  in-edge-less vertex, unweighted and weighted.

Every vertex here has at most two in-edges, so the contrib sums are
order-independent and bit-identity is a property of the expressions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.pagerank import pagerank


def _ranks(df):
    return {r["id"]: r["rank"] for r in df.collect()}


def _one_namespace(edges, **kw):
    """The namespaced loop over a single namespace: it always
    left-joins the vertex table (a forced join)."""
    return pagerank(edges.withColumn("ns", F.lit(1)), namespace_col="ns", **kw)


@pytest.fixture(scope="module")
def chain_edges(spark):
    # a -> b -> c: `a` has no in-edge, `c` has no out-edge (dangler)
    return spark.createDataFrame(
        [("a", "b"), ("b", "c")], ["src", "dst"]
    )


@pytest.fixture(scope="module")
def mixed_edges(spark):
    # `a` has no in-edge, `c` has no out-edge (dangler), b <-> d cycle;
    # every vertex has at most two in-edges
    return spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("b", "d", 0.5), ("d", "b", 3.0)],
        ["src", "dst", "w"],
    )


@pytest.fixture(scope="module")
def sym_edges(spark):
    fwd = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")], ["src", "dst"]
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


class TestInedgesIncomplete:
    def test_probe_keeps_inedgeless_vertex(self, chain_edges):
        pr = _ranks(pagerank(chain_edges, max_iter=4))
        # `a` receives no mass: rank is the pure reset + dangling terms
        assert set(pr) == {"a", "b", "c"}
        assert abs(sum(pr.values()) - 1.0) < 1e-9
        assert pr["a"] < pr["b"] < pr["c"]


class TestOneNamespace:
    @pytest.mark.parametrize("weight", [None, "w"], ids=["unweighted", "weighted"])
    def test_matches_flat_bit_identical(self, mixed_edges, weight):
        flat = _ranks(pagerank(mixed_edges, max_iter=6, weight=weight))
        nsd = _ranks(_one_namespace(mixed_edges, max_iter=6, weight=weight))
        assert set(flat) == {"a", "b", "c", "d"}
        assert flat == nsd  # bit-identical
        assert abs(sum(flat.values()) - 1.0) < 1e-9


class TestInedgesComplete:
    def test_true_matches_probe_bit_identical(self, sym_edges):
        probed = _ranks(pagerank(sym_edges, max_iter=6))
        asserted = _ranks(pagerank(sym_edges, max_iter=6, symmetric=True))
        forced = _ranks(_one_namespace(sym_edges, max_iter=6))
        assert probed == asserted == forced  # bit-identical

    def test_weighted_true_matches_forced_join(self, sym_edges):
        w = sym_edges.withColumn(
            "w", (F.length("src") + F.length("dst")).cast("double")
        )
        probed = _ranks(pagerank(w, max_iter=5, weight="w"))
        asserted = _ranks(pagerank(w, max_iter=5, weight="w", symmetric=True))
        forced = _ranks(_one_namespace(w, max_iter=5, weight="w"))
        assert probed == asserted == forced  # bit-identical
        assert abs(sum(asserted.values()) - 1.0) < 1e-9
