"""Persisted warm-start PageRank (r9 VERDICT item 7): the converged
base rank vector lives in a versioned lakehouse table and every
maintenance run warm-starts from the persisted snapshot.

Two contracts pinned here, complementing the oracle gate (which
already proves g_pagerank_warmstart_lakehouse == DuckDB):

1. the composed query is BIT-IDENTICAL to the recompute-every-time
   g_pagerank_incremental — the parquet round-trip of the rank
   doubles loses nothing;
2. rank state is genuinely time-travelable: version N is a pinned
   snapshot that later commits (a refreshed maintenance batch) can
   never perturb.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from erkg_tutorials_spark.session import get_spark

    return get_spark()


def test_warmstart_equals_recompute(spark):
    from erkg_tutorials_spark.plans.graphq import (
        g_pagerank_incremental,
        g_pagerank_warmstart_lakehouse,
    )

    cold = {
        r.id: r.rank for r in g_pagerank_incremental(spark, SF_DIR).collect()
    }
    warm = {
        r.id: r.rank
        for r in g_pagerank_warmstart_lakehouse(spark, SF_DIR).collect()
    }
    assert warm == cold


def test_rank_table_time_travel(spark, tmp_path):
    """A maintenance batch committing refreshed ranks as version N+1
    must leave version N's snapshot byte-identical — the property
    that makes persisted rank state auditable (which ranks served
    batch 17?) rather than a mutable cache."""
    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.lakehouse.versioned import (
        read_version,
        write_version,
    )
    from erkg_tutorials_spark.plans.graphq import (
        PR_CUTOFF,
        dated_trade_edges_sym,
    )

    root = str(tmp_path / "prbase")
    r0 = pagerank(
        dated_trade_edges_sym(spark, SF_DIR, PR_CUTOFF), max_iter=2
    )
    v0 = write_version(r0, root, mode="overwrite")
    base = {r.id: r.rank for r in read_version(spark, root, v0).collect()}

    refreshed = read_version(spark, root, v0).withColumn(
        "rank", F.col("rank") * 2
    )
    v1 = write_version(refreshed, root, mode="overwrite")
    assert v1 == v0 + 1

    again = {r.id: r.rank for r in read_version(spark, root, v0).collect()}
    latest = {r.id: r.rank for r in read_version(spark, root).collect()}
    assert again == base  # version N pinned through the later commit
    assert latest == {k: v * 2 for k, v in base.items()}
