"""Clone-session loop confs (graph/loop_confs.py): iterative graph
queries must not bleed AQE/partition confs into the caller's session,
even while other queries run concurrently on it."""

import threading

from erkg_tutorials_spark.graph.loop_confs import tuned_loop_session
from erkg_tutorials_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_loop_session_isolates_confs(spark):
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with tuned_loop_session(spark, 5_000_000) as (loop, rebind):
        assert loop is not spark
        assert loop.conf.get("spark.sql.adaptive.enabled") == "false"
        assert loop.conf.get("spark.sql.shuffle.partitions") == "8"
        # the parent session is untouched WHILE the window is open —
        # this is the property the round-2 implementation lacked
        assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
        assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
        df = rebind(spark.range(10))
        assert df.count() == 10
        assert df.sparkSession is loop
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts


def test_concurrent_queries_during_pagerank(spark, duck):
    """Run pagerank concurrently with two relational registry queries
    on the SAME session: all three must return correct results and the
    session confs must be identical before and after."""
    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    results: dict = {}
    errors: list = []

    def run(name):
        try:
            results[name] = QUERIES[name](spark, SF_DIR).toPandas()
        except Exception as exc:  # pragma: no cover - failure reporting
            errors.append((name, exc))

    threads = [
        threading.Thread(target=run, args=(n,))
        for n in ("g5_pagerank_top20", "q1_pricing_summary", "w1_top3_orders_per_customer")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    after = {k: spark.conf.get(k) for k in before}
    assert after == before

    # correctness of the concurrent relational queries vs DuckDB
    q1 = results["q1_pricing_summary"].sort_values(
        ["l_returnflag", "l_linestatus"]
    ).reset_index(drop=True)
    oracle = duck.sql(
        "SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty "
        "FROM lineitem WHERE l_shipdate <= DATE '1998-09-02' "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    ).df()
    assert list(q1["sum_qty"]) == list(oracle["sum_qty"])
    assert len(results["g5_pagerank_top20"]) == 20
    assert len(results["w1_top3_orders_per_customer"]) > 0
