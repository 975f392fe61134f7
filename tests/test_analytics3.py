"""Tests for the third analytics tier (plans/analytics.py): exact
prefix-filter similarity join, Bloom prefilter, winsorization.

The oracle gate already pins output equality; these pin the
NON-oracle-visible invariants — that the prefix filter actually
prunes while staying complete, that the Bloom filter never produces
a false negative, and that winsorization clamps exactly at the
nearest-rank band."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from erkg_tutorials_spark.plans.analytics import (
    BLOOM_K,
    BLOOM_M_BITS,
    SIMJOIN_TAU_DEN,
    SIMJOIN_TAU_NUM,
    bloom_prefilter_orders,
    simjoin_prefix_filter,
    winsorized_event_stats,
)


class TestSimjoinPrefixFilter:
    def test_matches_bruteforce_pairs(self, spark):
        """Completeness + precision: the prefix-filtered join equals
        the brute-force pairwise Jaccard join exactly."""
        from erkg_tutorials_spark.dedup.minhash import shingles
        from erkg_tutorials_spark.catalog import load_tables

        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in simjoin_prefix_filter(spark, SF_DIR).collect()
        }
        sh = shingles(load_tables(spark, SF_DIR)["documents"], k=3)
        rows = sh.collect()
        sets: dict = {}
        for r in rows:
            sets.setdefault(r.doc_id, set()).add(r.shingle)
        want = {}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ni = len(sets[a] & sets[b])
                nu = len(sets[a] | sets[b])
                if ni * SIMJOIN_TAU_DEN >= SIMJOIN_TAU_NUM * nu:
                    want[(a, b)] = round(ni / nu, 6)
        assert got == want
        assert len(want) > 0  # the fixture corpus has qualifying pairs

    def test_prefix_actually_prunes(self, spark):
        """The candidate prefix table must be strictly smaller than
        the full shingle table (roughly a (1 - tau) fraction at
        tau=1/2) — otherwise the operator is brute force in
        disguise."""
        from erkg_tutorials_spark.dedup.minhash import shingles
        from erkg_tutorials_spark.catalog import load_tables

        sh = shingles(load_tables(spark, SF_DIR)["documents"], k=3)
        n_full = sh.count()
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        n_prefix = (
            sizes.select(
                (
                    F.col("n")
                    - F.expr(
                        f"(n * {SIMJOIN_TAU_NUM} + {SIMJOIN_TAU_DEN} - 1) "
                        f"div {SIMJOIN_TAU_DEN}"
                    )
                    + 1
                ).alias("p")
            )
            .agg(F.sum("p"))
            .first()[0]
        )
        assert n_prefix < 0.6 * n_full

    def test_prefix_length_edge_cases(self):
        """prefix_len = n - ceil(tau*n) + 1 stays in [1, n] for any
        n >= 1 (a 1-token doc keeps its single token)."""
        for n in (1, 2, 3, 10, 11, 1000):
            ceil_tn = (n * SIMJOIN_TAU_NUM + SIMJOIN_TAU_DEN - 1) // SIMJOIN_TAU_DEN
            p = n - ceil_tn + 1
            assert 1 <= p <= n, n


class TestSimjoinEditDistance:
    def test_matches_bruteforce(self, spark):
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.analytics import (
            EDIT_DMAX,
            simjoin_edit_distance,
        )

        got = {
            (r.id_a, r.id_b): r.edit_dist
            for r in simjoin_edit_distance(spark, SF_DIR).collect()
        }
        names = {
            r.s_suppkey: r.s_name
            for r in load_tables(spark, SF_DIR)["supplier"].collect()
        }

        def ed(s, t):
            # classic DP, reference implementation
            prev = list(range(len(t) + 1))
            for i, cs in enumerate(s, 1):
                cur = [i]
                for j, ct in enumerate(t, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct))
                    )
                prev = cur
            return prev[-1]

        ids = sorted(names)
        want = {}
        for i, x in enumerate(ids):
            for y in ids[i + 1:]:
                d = ed(names[x], names[y])
                if d <= EDIT_DMAX:
                    want[(x, y)] = d
        assert got == want
        assert len(want) > 0

    def test_deletion_neighborhood_complete_property(self):
        """FastSS theorem for d=1: any two strings within edit
        distance 1 share a deletion variant — exhaustively over all
        single-edit perturbations of sample strings."""

        def d1(x):
            return {x} | {x[:i] + x[i + 1:] for i in range(len(x))}

        alphabet = "abc"
        for s in ("", "a", "ab", "abc", "abca", "Supplier#01"):
            perturbed = {s}
            for i in range(len(s)):
                perturbed.add(s[:i] + s[i + 1:])  # deletion
                for c in alphabet:
                    perturbed.add(s[:i] + c + s[i + 1:])  # substitution
            for i in range(len(s) + 1):
                for c in alphabet:
                    perturbed.add(s[:i] + c + s[i:])  # insertion
            for t in perturbed:
                assert d1(s) & d1(t), (s, t)

    def test_candidates_prune_vs_cross_product(self, spark):
        """The variant equi-join must generate far fewer candidate
        pairs than n^2/2 — on common-prefix names, the pruning the
        q-gram filter cannot provide. Measured at sf0.01: the
        sf0.001 fixture has only 10 suppliers whose names all differ
        in <= 2 trailing digits, so EVERY pair is legitimately a
        candidate there — density of the fixture, not of the
        filter."""
        from erkg_tutorials_spark.catalog import load_tables

        s = load_tables(spark, "/root/testdata/sf0.01")["supplier"].select(
            "s_suppkey", "s_name"
        )
        n = s.count()
        variants = s.select(
            "s_suppkey",
            F.explode(
                F.expr(
                    "array_union(array(s_name), "
                    "transform(sequence(1, length(s_name)), "
                    "i -> concat(substring(s_name, 1, i - 1), "
                    "substring(s_name, i + 1, length(s_name)))))"
                )
            ).alias("v"),
        )
        cand = (
            variants.alias("a")
            .join(variants.alias("b"), "v")
            .where(F.col("a.s_suppkey") < F.col("b.s_suppkey"))
            .select("a.s_suppkey", "b.s_suppkey")
            .distinct()
            .count()
        )
        assert cand < 0.4 * n * (n - 1) / 2


class TestBloomPrefilter:
    @pytest.fixture(scope="class")
    def row(self, spark):
        return bloom_prefilter_orders(spark, SF_DIR).first()

    def test_no_false_negatives(self, row):
        """Bloom filters may pass non-members but must NEVER reject a
        member: every true match is in the pass set."""
        assert row.n_pass >= row.n_true
        assert row.n_false_pos == row.n_pass - row.n_true

    def test_bitset_bounds(self, row):
        assert 0 < row.n_bits_set <= min(BLOOM_M_BITS, row.n_keys * BLOOM_K)

    def test_filter_is_selective(self, row):
        """The whole point: the pass set is far smaller than the
        probe set (the FP rate at this fill factor is tiny)."""
        assert row.n_pass < row.n_probed
        assert row.n_false_pos <= 0.05 * row.n_probed


class TestAudienceOverlapBitmap:
    def test_matches_python_sets(self, spark):
        """Packed-word bitmap intersection vs plain Python set math."""
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.analytics import audience_overlap_bitmap

        got = {
            (r.type_a, r.type_b): (r.n_a, r.n_b, r.n_common)
            for r in audience_overlap_bitmap(spark, SF_DIR).collect()
        }
        rows = (
            load_tables(spark, SF_DIR)["events"]
            .select("event_type", "user_id")
            .distinct()
            .collect()
        )
        sets: dict = {}
        for r in rows:
            sets.setdefault(r.event_type, set()).add(r.user_id)
        types = sorted(sets)
        for i, a in enumerate(types):
            for b in types[i + 1:]:
                assert got[(a, b)] == (
                    len(sets[a]),
                    len(sets[b]),
                    len(sets[a] & sets[b]),
                )

    def test_word_table_is_bounded(self, spark):
        """The packed representation must carry at most
        |types| x (max_user/64 + 1) rows — independent of event
        count (the whole point of the bitmap)."""
        from erkg_tutorials_spark.catalog import load_tables
        from pyspark.sql import functions as F2

        e = load_tables(spark, SF_DIR)["events"]
        n_types, max_user = e.agg(
            F2.countDistinct("event_type"), F2.max("user_id")
        ).first()
        words = (
            e.select("event_type", F2.expr("user_id div 64").alias("w"))
            .distinct()
            .count()
        )
        assert words <= n_types * (max_user // 64 + 1)


class TestAttributionFirstTouch:
    def test_conserves_purchases_and_value(self, spark):
        """Every purchase is credited exactly once (incl. 'none');
        total attributed value equals total purchase value."""
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.temporal import attribution_first_touch

        rows = attribution_first_touch(spark, SF_DIR).collect()
        e = load_tables(spark, SF_DIR)["events"]
        purchases = e.where(F.col("event_type") == "purchase")
        n = purchases.count()
        total_cents = purchases.select(
            F.sum(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)"))
        ).first()[0]
        assert sum(r.n_purchases for r in rows) == n
        assert round(sum(r.attributed_value for r in rows), 2) == total_cents / 100.0

    def test_first_touch_is_earliest_in_window(self, spark):
        """Spot-check against a per-user Python replay of the
        first-touch rule."""
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.temporal import (
            FIRST_TOUCH_WINDOW_SECONDS,
        )

        e = (
            load_tables(spark, SF_DIR)["events"]
            .select("event_id", "user_id", "event_type", "ts_sec")
            .collect()
        )
        by_user: dict = {}
        for r in e:
            by_user.setdefault(r.user_id, []).append(r)
        counts: dict = {}
        for rows_u in by_user.values():
            touches = sorted(
                (r for r in rows_u if r.event_type != "purchase"),
                key=lambda r: (r.ts_sec, r.event_id),
            )
            for p in (r for r in rows_u if r.event_type == "purchase"):
                ft = next(
                    (
                        t.event_type
                        for t in touches
                        if p.ts_sec - FIRST_TOUCH_WINDOW_SECONDS
                        <= t.ts_sec
                        < p.ts_sec
                    ),
                    "none",
                )
                counts[ft] = counts.get(ft, 0) + 1
        from erkg_tutorials_spark.plans.temporal import attribution_first_touch

        got = {
            r.first_touch_type: r.n_purchases
            for r in attribution_first_touch(spark, SF_DIR).collect()
        }
        assert got == counts


class TestWinsorize:
    def test_matches_numpy_clamp(self, spark):
        """Exact nearest-rank winsorization vs a NumPy reference on
        the same integer-cents data."""
        from erkg_tutorials_spark.catalog import load_tables

        got = {
            r.event_type: r for r in winsorized_event_stats(spark, SF_DIR).collect()
        }
        events = (
            load_tables(spark, SF_DIR)["events"]
            .select("event_type", F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)").alias("cents"))
            .collect()
        )
        series: dict = {}
        for r in events:
            series.setdefault(r.event_type, []).append(r.cents)
        for etype, cents in series.items():
            arr = np.sort(np.array(cents, dtype=np.int64))
            n = len(arr)
            lo = arr[max((n * 1 + 99) // 100, 1) - 1]  # nearest-rank p01
            hi = arr[max((n * 99 + 99) // 100, 1) - 1]  # nearest-rank p99
            clamped = np.clip(arr, lo, hi)
            r = got[etype]
            assert r.n == n
            assert r.p01_value == lo / 100.0
            assert r.p99_value == hi / 100.0
            assert r.n_clamped == int(((arr < lo) | (arr > hi)).sum())
            assert r.winsorized_sum == int(clamped.sum()) / 100.0

    def test_band_is_proper(self, spark):
        for r in winsorized_event_stats(spark, SF_DIR).collect():
            assert r.p01_value <= r.p99_value
            assert r.n_clamped < r.n  # p01..p99 keeps the bulk


class TestDedupIncremental:
    def test_matches_bruteforce_cross_pairs(self, spark):
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.dedup.minhash import shingles
        from erkg_tutorials_spark.plans.analytics import (
            DELTA_MOD,
            SIMJOIN_TAU_DEN,
            SIMJOIN_TAU_NUM,
            dedup_incremental_exact,
        )

        got = {
            (r.delta_id, r.corpus_id): r.jaccard
            for r in dedup_incremental_exact(spark, SF_DIR).collect()
        }
        rows = shingles(load_tables(spark, SF_DIR)["documents"], k=3).collect()
        sets: dict = {}
        for r in rows:
            sets.setdefault(r.doc_id, set()).add(r.shingle)
        want = {}
        for d, sd in sets.items():
            if d % DELTA_MOD != 0:
                continue
            for c, sc in sets.items():
                if c % DELTA_MOD == 0:
                    continue
                ni, nu = len(sd & sc), len(sd | sc)
                if ni * SIMJOIN_TAU_DEN >= SIMJOIN_TAU_NUM * nu:
                    want[(d, c)] = round(ni / nu, 6)
        assert got == want
        for d, c in got:
            assert d % DELTA_MOD == 0 and c % DELTA_MOD != 0


class TestSkewReport:
    def test_matches_pandas(self, spark):
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.analytics import (
            SKEW_TOPK,
            skew_report_lineitem,
        )

        rows = sorted(
            skew_report_lineitem(spark, SF_DIR).collect(), key=lambda r: r.rk
        )
        import collections

        weights = collections.Counter(
            r.l_orderkey
            for r in load_tables(spark, SF_DIR)["lineitem"]
            .select("l_orderkey")
            .collect()
        )
        ordered = sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))
        n_keys, n_rows = len(weights), sum(weights.values())
        max_w = ordered[0][1]
        ws = sorted(weights.values())
        p99 = ws[max((n_keys * 99 + 99) // 100, 1) - 1]
        assert len(rows) == min(SKEW_TOPK, n_keys)
        for i, r in enumerate(rows):
            assert (r.heavy_key, r.weight) == ordered[i]
            assert r.n_keys == n_keys and r.n_rows == n_rows
            assert r.p99_w == p99
            assert r.imbalance_factor == round(max_w * n_keys / n_rows, 6)
        assert rows[0].imbalance_factor >= 1.0
