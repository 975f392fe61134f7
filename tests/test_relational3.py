"""Semantic tests for the TPC-H completion tier (plans/relational.py).

Oracle parity for every query is already enforced by
tests/test_oracle_parity.py (and the driver's sf0.01 gate); these
tests pin the *semantics* that a hash-match alone would not explain —
brute-force replays of the exact-integer math, join-shape invariants,
and plan-quality gates (broadcast dims, no cartesian products).
"""

from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.relational import (
    q6_forecast_revenue,
    q9_profit_by_nation_year,
    q13_order_count_distribution,
    q15_top_supplier,
    q18_large_volume_customers,
    q21_sole_late_supplier,
)
from tests.conftest import SF_DIR


class TestExactMath:
    def test_q6_matches_bruteforce(self, spark):
        li = (
            load_tables(spark, SF_DIR)["lineitem"]
            .select("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
            .collect()
        )
        total = 0
        for r in li:
            disc = round(r.l_discount * 100)
            if (
                r.l_shipdate.year == 1997
                and 5 <= disc <= 7
                and r.l_quantity < 24
            ):
                total += round(r.l_extendedprice * 100) * disc
        want = total / 10000.0
        got = q6_forecast_revenue(spark, SF_DIR).collect()[0].revenue
        assert got == want


class TestJoinShapes:
    def test_q13_distribution_covers_all_customers(self, spark):
        """The left outer join must keep zero-order customers: the
        distribution's total count equals the customer count."""
        out = q13_order_count_distribution(spark, SF_DIR)
        rows = out.collect()
        n_cust = load_tables(spark, SF_DIR)["customer"].count()
        # every customer lands in exactly one bucket — an inner join
        # would drop zero-order customers and break this sum whenever
        # such customers exist (data-dependent per SF)
        assert sum(r.custdist for r in rows) == n_cust
        assert all(r.c_count >= 0 for r in rows)

    def test_q15_all_rows_tie_at_max(self, spark):
        rows = q15_top_supplier(spark, SF_DIR).collect()
        assert len(rows) >= 1
        assert len({r.total_revenue for r in rows}) == 1

    def test_q18_threshold_is_exact(self, spark):
        out = q18_large_volume_customers(spark, SF_DIR)
        assert out.count() > 0
        li = load_tables(spark, SF_DIR)["lineitem"]
        sums = {
            r.l_orderkey: r.s
            for r in li.groupBy("l_orderkey")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("s"))
            .collect()
        }
        for r in out.collect():
            assert r.sum_qty == sums[r.o_orderkey]
            assert r.sum_qty > 200

    def test_q21_single_aggregate_consistency(self, spark):
        """numwait totals must equal the number of qualifying orders —
        the one-aggregate formulation can't double-count an order."""
        out = q21_sole_late_supplier(spark, SF_DIR)
        total = out.agg(F.sum("numwait")).collect()[0][0]
        t = load_tables(spark, SF_DIR)
        late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
        per_order = (
            t["lineitem"]
            .join(
                t["orders"]
                .where(F.col("o_orderstatus") == "F")
                .select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_orderkey")
            .agg(
                F.countDistinct("l_suppkey").alias("n_supps"),
                F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            )
        )
        want = per_order.where(
            (F.col("n_supps") >= 2) & (F.col("n_late") == 1)
        ).count()
        assert total == want


class TestPlanQuality:
    def test_q9_broadcasts_dims_no_cartesian(self, spark):
        plan = (
            q9_profit_by_nation_year(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSetOps:
    def test_setop_plan_shape(self, spark):
        """INTERSECT/EXCEPT must compile to semi/anti hash joins with the
        date predicates pushed to the parquet scan — never a distinct
        materialization of the fact followed by wide joins."""
        from erkg_tutorials_spark.plans.relational import setop_repeat_customers

        plan = (
            setop_repeat_customers(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed range filter
        assert "CartesianProduct" not in plan

    def test_setop_distinct_semantics(self, spark):
        """Result custkeys are unique (INTERSECT/EXCEPT are set ops, not
        multiset), and every one has orders in both years."""
        from erkg_tutorials_spark.plans.relational import setop_repeat_customers

        df = setop_repeat_customers(spark, SF_DIR)
        n = df.count()
        assert df.distinct().count() == n
        orders = load_tables(spark, SF_DIR)["orders"]
        y96 = orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        ).select(F.col("o_custkey").alias("c_custkey"))
        assert df.join(y96, "c_custkey", "left_anti").count() == 0
