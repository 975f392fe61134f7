"""Semantic tests for the relational-depth tier (plans/relational.py)."""

from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.relational import (
    merge_upsert_customers,
    q4_exists_late_ship,
    q11_major_suppliers,
    q17_small_quantity_revenue,
    q22_idle_rich_customers,
)
from tests.conftest import SF_DIR


class TestSubqueryShapes:
    def test_q4_semi_join_never_multiplies(self, spark):
        """EXISTS must count each order once no matter how many
        lineitems qualify."""
        out = q4_exists_late_ship(spark, SF_DIR)
        total = out.agg(F.sum("n_orders")).collect()[0][0]
        o = load_tables(spark, SF_DIR)["orders"].where(F.year("o_orderdate") == 1996)
        assert total <= o.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan

    def test_q17_matches_bruteforce(self, spark):
        t = load_tables(spark, SF_DIR)
        li = t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice").collect()
        brand = {
            r.p_partkey for r in t["part"].where("p_brand = 'Brand#1'").collect()
        }
        sums, counts = {}, {}
        for r in li:
            sums[r.l_partkey] = sums.get(r.l_partkey, 0) + int(r.l_quantity)
            counts[r.l_partkey] = counts.get(r.l_partkey, 0) + 1
        cents = sum(
            round(r.l_extendedprice * 100)
            for r in li
            if r.l_partkey in brand
            and int(r.l_quantity) * counts[r.l_partkey] * 5 < sums[r.l_partkey]
        )
        want = cents / 100.0 / 7.0
        got = q17_small_quantity_revenue(spark, SF_DIR).collect()[0].avg_yearly
        assert got == want

    def test_q22_anti_join_excludes_recent_buyers(self, spark):
        out = q22_idle_rich_customers(spark, SF_DIR)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        assert out.count() > 0

    def test_q11_threshold_is_exact(self, spark):
        rows = q11_major_suppliers(spark, SF_DIR).collect()
        li = load_tables(spark, SF_DIR)["lineitem"].select(
            "l_suppkey", "l_extendedprice"
        ).collect()
        vals = {}
        for r in li:
            vals[r.l_suppkey] = vals.get(r.l_suppkey, 0) + round(r.l_extendedprice * 100)
        total = sum(vals.values())
        want = {k: v / 100.0 for k, v in vals.items() if v * 10000 > total}
        assert {r.s_suppkey: r.supplier_value for r in rows} == want


class TestMergeUpsert:
    def test_change_types_partition_the_output(self, spark):
        out = merge_upsert_customers(spark, SF_DIR)
        c = load_tables(spark, SF_DIR)["customer"]
        n_base = c.count()
        n_updates = c.where("c_custkey % 10 = 0").count()
        n_inserts = c.where("c_custkey % 97 = 0").count()
        by_type = {
            r.change_type: r.n
            for r in out.groupBy("change_type").agg(F.count("*").alias("n")).collect()
        }
        assert by_type["updated"] == n_updates
        assert by_type["inserted"] == n_inserts
        assert by_type["unchanged"] == n_base - n_updates
        assert out.count() == n_base + n_inserts

    def test_updated_rows_take_batch_values(self, spark):
        out = merge_upsert_customers(spark, SF_DIR)
        segs = {
            r.c_mktsegment
            for r in out.where("change_type = 'updated'").collect()
        }
        assert segs == {"RESEGMENTED"}

    def test_keys_unique_after_merge(self, spark):
        out = merge_upsert_customers(spark, SF_DIR)
        assert out.select("c_custkey").distinct().count() == out.count()


class TestAnalyticFunctions:
    def test_w6_against_bruteforce(self, spark):
        from erkg_tutorials_spark.plans.relational import w6_analytic_functions

        rows = w6_analytic_functions(spark, SF_DIR).collect()
        by_prio = {}
        for r in rows:
            by_prio.setdefault(r.o_orderpriority, []).append(r)
        n_checked = 0
        for prio, rs in by_prio.items():
            rs.sort(key=lambda r: (r.pct_rank, r.o_orderkey))
            n = len(rs)
            # percent_rank endpoints and ntile balance
            assert rs[0].pct_rank == 0.0
            if n > 1:
                assert rs[-1].pct_rank == 1.0
            sizes = {}
            for r in rs:
                sizes[r.quartile] = sizes.get(r.quartile, 0) + 1
            assert set(sizes) == {1, 2, 3, 4}
            assert max(sizes.values()) - min(sizes.values()) <= 1
            # lag/lead chain consistency on the sorted order:
            # b.prev_cents is a's value, a.next_cents is b's value
            # (= b.prev_cents + b.step_cents), first row has no prev
            assert rs[0].prev_cents is None and rs[0].step_cents == 0
            for a, b in zip(rs, rs[1:]):
                assert b.prev_cents is not None
                assert a.next_cents == b.prev_cents + b.step_cents
            assert rs[-1].next_cents is None
            n_checked += n
        assert n_checked == len(rows) > 0
