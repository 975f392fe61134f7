"""Clone-session loop confs (graph/loop_confs.py): iterative graph
queries must not bleed AQE/partition confs into the caller's session,
even while other queries run concurrently on it; ``iterate`` runs its
rounds there and frees what the kernel hands it."""

import threading

import pytest

from erkg_tutorials_spark.graph.ckpt import checkpoint
from erkg_tutorials_spark.graph.loop_confs import iterate, tuned_loop_session
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


def _pinned(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_iterate_steps_run_under_loop_confs(spark):
    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    seen = []

    def step(i, x, inv):
        seen.append(
            (
                x.sparkSession is not spark and inv.sparkSession is not spark,
                x.sparkSession.conf.get("spark.sql.adaptive.enabled"),
                x.sparkSession.conf.get("spark.sql.shuffle.partitions"),
                spark.conf.get("spark.sql.adaptive.enabled"),
            )
        )
        yield x.join(inv, "id").selectExpr("id + 1 AS id")

    (x,), converged = iterate(
        step, (spark.range(5),), (spark.range(100),), rounds=2, size=5_000_000
    )
    assert seen == [(True, "false", "8", before["spark.sql.adaptive.enabled"])] * 2
    assert not converged
    assert sorted(r.id for r in x.collect()) == [2, 3, 4, 5, 6]
    assert {k: spark.conf.get(k) for k in before} == before


def test_iterate_checks_until_before_the_first_round(spark):
    ran = []

    def step(i, x):
        ran.append(i)
        yield x

    (x,), converged = iterate(
        step, (spark.range(0),), rounds=3, size=1,
        until=lambda _i, x: x.isEmpty(),
    )
    assert ran == [] and converged and x.count() == 0


def test_iterate_reports_exhausted_rounds(spark):
    ran = []

    def step(i, x):
        ran.append(i)
        yield x.selectExpr("id + 1 AS id")

    (x,), converged = iterate(
        step, (spark.range(3),), rounds=3, size=1,
        until=lambda i, x: False,
    )
    assert ran == [0, 1, 2] and not converged
    assert sorted(r.id for r in x.collect()) == [3, 4, 5]


def test_iterate_frees_owned_tables(spark):
    base = _pinned(spark)
    inv_ck = spark.range(50).localCheckpoint(eager=True)
    inv_cached = spark.range(60).cache()
    inv_cached.count()
    x0 = checkpoint(spark.range(10))

    def step(i, x, a, b):
        yield x.join(a, "id").join(b, "id").selectExpr("id + 1 AS id")

    (x,), _ = iterate(
        step, (x0,), (inv_ck, inv_cached), rounds=3, size=1,
        owned=(inv_ck, inv_cached, x0),
    )
    # only the final state stays pinned: the owned invariants and the
    # owned initial state are gone
    assert len(_pinned(spark) - base) == 1
    assert not inv_cached.is_cached
    assert sorted(r.id for r in x.collect()) == list(range(3, 13))


@pytest.mark.parametrize(
    "query, backing",
    [("g_katz_top20", 1), ("g_hits_top", 2), ("g_kcore", 1)],
)
def test_graph_kernels_pin_only_result_checkpoints(spark, query, backing):
    """Back-to-back calls must not pile up checkpoints: a call leaves
    pinned exactly the checkpoints its (still referenced) result reads."""
    QUERIES[query](spark, SF_DIR).collect()  # builds the shared memos
    before = _pinned(spark)
    df = QUERIES[query](spark, SF_DIR)
    df.collect()
    assert len(_pinned(spark) - before) == backing


def test_rebound_cached_table_stays_cached(spark):
    """Dropping a rebind view must not uncache the table it showed (a
    memo table read by every round); when the session-catalog drop is
    unreachable the public drop still removes the view."""
    from erkg_tutorials_spark.graph import loop_confs

    cm = spark._jsparkSession.sharedState().cacheManager()
    memo = spark.range(100).selectExpr("id % 7 AS k").cache()
    memo.count()
    with tuned_loop_session(spark, 1) as (_loop, rebind):
        assert rebind(memo).count() == 100
    assert cm.lookupCachedData(memo._jdf).isDefined()
    memo.unpersist()

    def views():
        return {t.name for t in spark.catalog.listTables("global_temp")}

    with tuned_loop_session(spark, 1) as (_loop, rebind):
        rebind(spark.range(3))
        opened = {v for v in views() if v.startswith("erkg_loop_")}
    assert opened and not opened & views()

    class _NoJvm:
        catalog = spark.catalog

    spark.range(3).createOrReplaceGlobalTempView("erkg_loop_fallback")
    loop_confs._drop_view(_NoJvm(), "erkg_loop_fallback")
    assert "erkg_loop_fallback" not in views()
