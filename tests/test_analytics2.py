"""Tests for the second analytics tier (plans/analytics.py):
heavy hitters, rolling distinct, transitions, sweep-line peaks,
skyline, duplicated n-grams, Gram matrix."""

import itertools

import pandas as pd
import pytest

from tests.conftest import SF_DIR

from erkg_tutorials_spark.plans.analytics import (
    HH_K,
    dedup_duplicated_ngrams,
    embedding_gram_matrix,
    event_transition_matrix,
    heavy_hitters_users,
    misra_gries_candidates,
    peak_open_orders,
    rolling_distinct_users_7d,
    skyline_parts,
)


class TestMisraGries:
    """The pruning pass must NEVER drop a true heavy hitter — the
    exact second pass can only remove, not restore, candidates."""

    @staticmethod
    def _run(values, k, batch=7):
        batches = (
            pd.DataFrame({"x": values[i : i + batch]})
            for i in range(0, len(values), batch)
        )
        (out,) = list(misra_gries_candidates(batches, "x", k))
        return set(out["x"])

    def test_state_bounded(self):
        vals = list(range(10_000))
        batches = [pd.DataFrame({"x": vals})]
        (out,) = list(misra_gries_candidates(iter(batches), "x", 16))
        assert len(out) <= 16

    @pytest.mark.parametrize("order", ["sorted", "reverse", "interleaved"])
    def test_guarantee_superset_of_heavy_hitters(self, order):
        # 3 heavy keys + a long tail; every ordering must retain the
        # heavy keys with k counters.
        heavy = ["a"] * 120 + ["b"] * 90 + ["c"] * 80
        tail = [f"t{i}" for i in range(400)]
        vals = heavy + tail
        if order == "sorted":
            vals = sorted(vals)
        elif order == "reverse":
            vals = sorted(vals, reverse=True)
        else:
            vals = list(
                itertools.chain.from_iterable(
                    itertools.zip_longest(heavy, tail)
                )
            )
            vals = [v for v in vals if v is not None]
        n, k = len(vals), 10
        cands = self._run(vals, k)
        from collections import Counter

        freqs = Counter(vals)
        for key, f in freqs.items():
            if f * k > n:
                assert key in cands, f"{key} (freq {f} > n/k={n/k}) pruned"

    def test_adversarial_decrement_churn(self):
        # Alternate bursts designed to trigger many decrement rounds.
        vals = []
        for i in range(50):
            vals += [f"burst{i}_{j}" for j in range(12)]
            vals += ["hh"] * 13
        n, k = len(vals), 20
        assert vals.count("hh") * k > n
        assert "hh" in self._run(vals, k, batch=11)


class TestHeavyHittersUsers:
    def test_matches_plain_groupby(self, spark):
        out = {
            (r.user_id, r.cnt) for r in heavy_hitters_users(spark, SF_DIR).collect()
        }
        e = spark.read.parquet(f"{SF_DIR}/events.parquet")
        n = e.count()
        exact = {
            (r.user_id, r.cnt)
            for r in e.groupBy("user_id").count().withColumnRenamed("count", "cnt").collect()
            if r.cnt * HH_K > n
        }
        assert out == exact

    def test_threshold_strict(self, spark):
        for r in heavy_hitters_users(spark, SF_DIR).collect():
            assert r.cnt * HH_K > r.n_total


class TestRollingDistinct:
    def test_window_end_day_only_active_days(self, spark):
        rows = rolling_distinct_users_7d(spark, SF_DIR).collect()
        e = spark.read.parquet(f"{SF_DIR}/events.parquet")
        from pyspark.sql import functions as F

        active = {
            (r.event_type, r.day)
            for r in e.select(
                "event_type",
                (F.unix_timestamp("ts").cast("long") / 86400).cast("long").alias("day"),
            )
            .distinct()
            .collect()
        }
        assert {(r.event_type, r.day) for r in rows} == active

    def test_monotone_vs_single_day(self, spark):
        # The 7-day distinct count can never be below that day's own
        # distinct count.
        from pyspark.sql import functions as F

        e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
            "event_type",
            F.expr("cast(unix_timestamp(ts) as long) div 86400").alias("day"),
            "user_id",
        )
        single = {
            (r.event_type, r.day): r.u
            for r in e.groupBy("event_type", "day")
            .agg(F.countDistinct("user_id").alias("u"))
            .collect()
        }
        for r in rolling_distinct_users_7d(spark, SF_DIR).collect():
            assert r.users_7d >= single[(r.event_type, r.day)]


class TestTransitions:
    def test_probabilities_normalize(self, spark):
        rows = event_transition_matrix(spark, SF_DIR).collect()
        from collections import defaultdict

        by_cur = defaultdict(float)
        for r in rows:
            by_cur[r.cur] += r.p_cond
            assert r.c_from >= r.c_pair > 0
        for cur, total in by_cur.items():
            assert abs(total - 1.0) < 1e-4, (cur, total)

    def test_pair_counts_sum_to_c_from(self, spark):
        rows = event_transition_matrix(spark, SF_DIR).collect()
        from collections import defaultdict

        sums = defaultdict(int)
        c_from = {}
        for r in rows:
            sums[r.cur] += r.c_pair
            c_from[r.cur] = r.c_from
        assert sums == c_from


class TestPeakOpenOrders:
    def test_peak_positive_and_day_in_range(self, spark):
        rows = peak_open_orders(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r.peak >= 1
            assert r.first_peak_day >= "1992-01-01"

    def test_peak_bounded_by_order_count(self, spark):
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        counts = {
            r.o_orderpriority: r["count"]
            for r in o.groupBy("o_orderpriority").count().collect()
        }
        for r in peak_open_orders(spark, SF_DIR).collect():
            assert r.peak <= counts[r.priority]


class TestSkyline:
    def test_no_dominated_survivor(self, spark):
        rows = skyline_parts(spark, SF_DIR).collect()
        by_brand = {}
        for r in rows:
            by_brand.setdefault(r.p_brand, []).append((r.price, r.p_size))
        for brand, pts in by_brand.items():
            for a in pts:
                for b in pts:
                    if a is b:
                        continue
                    dominated = (
                        b[0] <= a[0]
                        and b[1] >= a[1]
                        and (b[0] < a[0] or b[1] > a[1])
                    )
                    assert not dominated, (brand, a, b)

    def test_every_excluded_part_is_dominated(self, spark):
        # Completeness: anything not in the skyline is dominated by
        # some part of the same brand.
        from pyspark.sql import functions as F

        part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
            "p_brand", "p_partkey", "p_retailprice", "p_size"
        )
        kept = {r.p_partkey for r in skyline_parts(spark, SF_DIR).collect()}
        all_parts = part.collect()
        by_brand = {}
        for r in all_parts:
            by_brand.setdefault(r.p_brand, []).append(r)
        for r in all_parts:
            if r.p_partkey in kept:
                continue
            dominated = any(
                o.p_retailprice <= r.p_retailprice
                and o.p_size >= r.p_size
                and (o.p_retailprice < r.p_retailprice or o.p_size > r.p_size)
                for o in by_brand[r.p_brand]
            )
            assert dominated, r


class TestDuplicatedNgrams:
    def test_every_row_cross_doc(self, spark):
        for r in dedup_duplicated_ngrams(spark, SF_DIR).collect():
            assert r.n_docs >= 2
            assert r.n_occ >= r.n_docs
            assert len(r.gram.split(" ")) == 5


class TestGramMatrix:
    def test_shape_and_symmetric_source(self, spark):
        rows = embedding_gram_matrix(spark, SF_DIR).collect()
        d = max(r.j for r in rows)
        assert len(rows) == d * (d + 1) // 2
        assert all(r.i <= r.j for r in rows)

    def test_diagonal_nonnegative(self, spark):
        for r in embedding_gram_matrix(spark, SF_DIR).collect():
            if r.i == r.j:
                assert r.s >= 0

    def test_matches_numpy(self, spark):
        import numpy as np

        rows = embedding_gram_matrix(spark, SF_DIR).collect()
        pdf = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").toPandas()
        X = np.round(
            np.stack(pdf["embedding"].to_numpy()).astype("float64") * 1_000_000
        ).astype("int64")
        G = X.T @ X
        for r in rows:
            assert r.s == G[r.i - 1, r.j - 1]


class TestRfmSegments:
    def test_scores_in_range_and_segment_consistent(self, spark):
        from erkg_tutorials_spark.plans.analytics import rfm_segments

        rows = rfm_segments(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert 1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4
            assert r.segment == r.r_score * 100 + r.f_score * 10 + r.m_score

    def test_monotone_in_metric(self, spark):
        # A strictly higher monetary value can never get a lower m_score.
        from erkg_tutorials_spark.plans.analytics import rfm_segments

        rows = sorted(rfm_segments(spark, SF_DIR).collect(), key=lambda r: r.monetary)
        for a, b in zip(rows, rows[1:]):
            assert a.m_score <= b.m_score

    def test_ties_share_scores(self, spark):
        from erkg_tutorials_spark.plans.analytics import rfm_segments

        rows = rfm_segments(spark, SF_DIR).collect()
        by_freq = {}
        for r in rows:
            by_freq.setdefault(r.frequency, set()).add(r.f_score)
        for freq, scores in by_freq.items():
            assert len(scores) == 1, (freq, scores)


class TestMadOutliers:
    def test_matches_pandas_median(self, spark):
        from erkg_tutorials_spark.plans.analytics import mad_outliers_events

        rows = {r.event_type: r for r in mad_outliers_events(spark, SF_DIR).collect()}
        pdf = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .select("event_type", "value")
            .toPandas()
        )
        import numpy as np

        for etype, grp in pdf.groupby("event_type"):
            cents = np.round(grp["value"].to_numpy() * 100).astype("int64")
            cents.sort()
            n = len(cents)
            med = cents[(n + 1) // 2 - 1]  # nearest-rank lower median
            adev = np.sort(np.abs(cents - med))
            mad = adev[(n + 1) // 2 - 1]
            r = rows[etype]
            assert r.median_value == med / 100.0
            assert r.mad_value == mad / 100.0
            assert r.n_outliers == int((np.abs(cents - med) > 3 * mad).sum())


class TestDocPerplexity:
    def test_every_doc_scored_and_positive(self, spark):
        from erkg_tutorials_spark.plans.llmops import doc_perplexity_bigram

        rows = doc_perplexity_bigram(spark, SF_DIR).collect()
        n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
        assert len(rows) == n_docs
        for r in rows:
            assert r.n_bigrams >= 1
            assert r.avg_nll >= 0.0  # MLE probs <= 1 -> -log >= 0


class TestWeightedSample:
    def test_sample_size_and_weight_bias(self, spark):
        from erkg_tutorials_spark.plans.analytics import (
            WSAMPLE_K,
            sample_weighted_orders,
        )
        from pyspark.sql import functions as F

        rows = sample_weighted_orders(spark, SF_DIR).collect()
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        per_prio = {
            r.o_orderpriority: r["count"]
            for r in o.groupBy("o_orderpriority").count().collect()
        }
        from collections import Counter

        got = Counter(r.priority for r in rows)
        for prio, n in per_prio.items():
            assert got[prio] == min(WSAMPLE_K, n)
        # weighted sampling must bias toward heavy rows: the sampled
        # mean weight exceeds the population mean
        pop_mean = o.agg(F.avg("o_totalprice")).first()[0]
        samp_mean = sum(r.weight for r in rows) / len(rows)
        assert samp_mean > pop_mean

    def test_deterministic(self, spark):
        from erkg_tutorials_spark.plans.analytics import sample_weighted_orders

        a = {(r.priority, r.o_orderkey) for r in sample_weighted_orders(spark, SF_DIR).collect()}
        b = {(r.priority, r.o_orderkey) for r in sample_weighted_orders(spark, SF_DIR).collect()}
        assert a == b


class TestHeavyHittersPartitionInvariance:
    def test_output_invariant_under_repartitioning(self, spark):
        # The MG pass sees different per-partition streams at every
        # parallelism, but the exact second pass makes the final
        # output partitioning-independent.
        from erkg_tutorials_spark.plans.analytics import HH_K
        from pyspark.sql import functions as F
        import pandas as pd

        from erkg_tutorials_spark.plans.analytics import misra_gries_candidates

        e = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
        results = []
        for nparts in (1, 3, 17):
            ep = e.repartition(nparts)

            def mg(batches):
                yield from misra_gries_candidates(batches, "user_id", HH_K)

            cand = ep.mapInPandas(mg, "user_id bigint").distinct()
            counts = (
                ep.join(F.broadcast(cand), "user_id", "left_semi")
                .groupBy("user_id")
                .agg(F.count("*").alias("cnt"))
            )
            n = ep.count()
            out = {
                (r.user_id, r.cnt)
                for r in counts.collect()
                if r.cnt * HH_K > n
            }
            results.append(out)
        assert results[0] == results[1] == results[2]
