"""Semantic invariants for the r9 wave-3 operators — the oracle gate
proves Spark==DuckDB; these prove the shared computation means what
it claims at test scale.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from erkg_tutorials_spark.session import get_spark

    return get_spark()


class TestSeasonalDecompose:
    def test_residuals_cancel_within_each_seasonal_cell(self, spark):
        """By construction Σ_{days in (type, dow)} resid_scaled = 0
        exactly: the seasonal mean absorbs the detrended mass. An
        exact-integer identity, so == 0, not ≈."""
        from erkg_tutorials_spark.plans.eventsq import (
            events_seasonal_decompose,
        )

        rows = events_seasonal_decompose(spark, SF_DIR).collect()
        cells: dict = {}
        for r in rows:
            if r.resid_scaled is not None:
                cells.setdefault((r.event_type, r.dow), []).append(
                    r.resid_scaled
                )
        assert cells
        for k, v in cells.items():
            assert sum(v) == 0, (k, v)

    def test_trend_only_on_full_windows(self, spark):
        """trend7_sum is NULL exactly on days without the full ±3-day
        window — no partial-window leakage at series edges."""
        from erkg_tutorials_spark.plans.eventsq import (
            events_seasonal_decompose,
        )

        rows = events_seasonal_decompose(spark, SF_DIR).collect()
        by_type: dict = {}
        for r in rows:
            by_type.setdefault(r.event_type, []).append(r)
        for recs in by_type.values():
            days = {r.day for r in recs}
            for r in recs:
                full = all(
                    r.day + o in days for o in range(-3, 4)
                )
                assert (r.trend7_sum is not None) == full, r


class TestAutocorrelation:
    def test_matches_pure_python_acf(self, spark):
        """num/den reproduce the textbook scaled ACF on the collected
        daily series (exact integers, so == not ≈)."""
        from erkg_tutorials_spark.plans.eventsq import (
            events_autocorrelation,
        )
        from erkg_tutorials_spark.catalog import load_tables
        from pyspark.sql import functions as F

        d = (
            load_tables(spark, SF_DIR)["events"]
            .groupBy("event_type", F.expr("ts_sec div 86400").alias("day"))
            .count()
            .collect()
        )
        series: dict = {}
        for r in d:
            series.setdefault(r.event_type, {})[r.day] = r["count"]
        got = events_autocorrelation(spark, SF_DIR).collect()
        assert got
        for r in got:
            xs = series[r.event_type]
            n, s = len(xs), sum(xs.values())
            dev = {t: n * x - s for t, x in xs.items()}
            den = sum(v * v for v in dev.values())
            pairs = [
                (a, a + r.lag) for a in dev if a + r.lag in dev
            ]
            num = sum(dev[a] * dev[b] for a, b in pairs)
            assert (r.n_pairs, r.num_scaled, r.den_scaled) == (
                len(pairs),
                num,
                den,
            ), r

    def test_lags_one_through_seven(self, spark):
        from erkg_tutorials_spark.plans.eventsq import (
            ACF_MAX_LAG,
            events_autocorrelation,
        )

        lags = {
            r.lag for r in events_autocorrelation(spark, SF_DIR).collect()
        }
        assert lags == set(range(1, ACF_MAX_LAG + 1))


class TestDpNoisyCounts:
    def test_noise_distribution_shape(self, spark):
        """Over many keys the deterministic geometric draws behave
        like the mechanism: symmetric-ish, mode at zero with mass
        near the theoretical 1/3, and n_noisy = n_true + noise."""
        from erkg_tutorials_spark.plans.privacyq import dp_noisy_counts

        rows = dp_noisy_counts(spark, SF_DIR).collect()
        assert all(r.n_noisy == r.n_true + r.noise for r in rows)
        noises = [r.noise for r in rows]
        assert len(noises) >= 50
        p0 = sum(1 for z in noises if z == 0) / len(noises)
        assert 0.15 < p0 < 0.55  # theoretical 1/3, loose at n~150
        assert min(noises) < 0 < max(noises)
        assert abs(sum(noises)) <= 3 * len(noises) ** 0.5 * 2  # E=0, sd≈1.4

    def test_epsilon_ln2_ratio_bound_exhaustive(self):
        """The mechanism's privacy claim, checked against the exact
        pmf: a two-sided geometric with alpha=1/2 satisfies
        P(Z=z)/P(Z=z+1) = 2 = e^eps with eps = ln 2 — verified on the
        exact difference-of-geometrics pmf used here (G in [0, 59],
        the 60-bit truncation)."""
        from fractions import Fraction

        g = [Fraction(1, 2 ** (k + 1)) for k in range(60)]
        g[59] += 1 - sum(g)  # u=0 fold, as documented
        pmf: dict = {}
        for i, pi in enumerate(g):
            for j, pj in enumerate(g):
                pmf[i - j] = pmf.get(i - j, Fraction(0)) + pi * pj
        for z in range(0, 40):
            ratio = pmf[z] / pmf[z + 1]
            assert Fraction(2) * Fraction(999, 1000) < ratio <= Fraction(2)


class TestBlockingQuality:
    def test_balband_never_beats_the_production_scheme(self, spark):
        """caught(balband) ⊆ caught(nk_mod) structurally: equal nums
        imply equal mods, so nk_mod catches every same-nation true
        match; the band scheme needs band agreement on top."""
        from erkg_tutorials_spark.plans.linkingq import er_blocking_quality

        rows = {r.scheme: r for r in
                er_blocking_quality(spark, SF_DIR).collect()}
        assert set(rows) == {"nk_mod", "nk_balband"}
        assert rows["nk_mod"].pc_ppm >= rows["nk_balband"].pc_ppm
        for r in rows.values():
            assert 0 <= r.n_caught <= r.n_true
            assert 0 < r.rr_ppm < 1_000_000
            assert r.n_candidates < r.total_pairs


class TestDomainDivergence:
    def test_nonnegative_and_bounded_overlap(self, spark):
        from erkg_tutorials_spark.plans.textq import (
            corpus_domain_divergence,
        )

        rows = corpus_domain_divergence(spark, SF_DIR).collect()
        assert rows
        for r in rows:
            assert r.chi2_scaled_ppm >= 0, r
            assert 0 < r.vocab_overlap
            assert r.n_tokens > 0


class TestHardNegMining:
    def test_negatives_have_different_labels_and_margins(self, spark):
        from erkg_tutorials_spark.plans.vectorq import (
            HARDNEG_K,
            hardneg_mining,
        )
        from erkg_tutorials_spark.catalog import load_tables

        labels = {
            r.vec_id: r.label
            for r in load_tables(spark, SF_DIR)["embeddings"]
            .select("vec_id", "label")
            .collect()
        }
        rows = hardneg_mining(spark, SF_DIR).collect()
        assert rows
        by_q: dict = {}
        for r in rows:
            assert labels[r.neighbor_id] == r.neg_label
            assert labels[r.query_id] != r.neg_label
            assert abs((r.best_pos_cosine - r.cosine) - r.margin) < 2e-6
            by_q.setdefault(r.query_id, []).append(r.rank)
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, HARDNEG_K + 1)), q


class TestDegreeAssortativity:
    def test_matches_pure_python_newman_formula(self, spark):
        from erkg_tutorials_spark.plans.graphq import g_degree_assortativity
        from erkg_tutorials_spark.plans.graphq import trade_edges_sym

        edges = [
            (r.src, r.dst)
            for r in trade_edges_sym(spark, SF_DIR).collect()
        ]
        deg: dict = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        m = len(edges)
        sj = sum(deg[s] for s, _ in edges)
        sjj = sum(deg[s] ** 2 for s, _ in edges)
        sjk = sum(deg[s] * deg[d] for s, d in edges)
        row = g_degree_assortativity(spark, SF_DIR).collect()[0]
        assert row.m_edges == m and row.s_deg == sj
        # doubles by contract (DECIMAL->DOUBLE emission); exact at
        # this scale because the integers sit far below 2^53
        assert row.num_scaled == float(m * sjk - sj * sj)
        assert row.den_scaled == float(m * sjj - sj * sj)

    def test_bipartite_trade_graph_is_disassortative(self, spark):
        from erkg_tutorials_spark.plans.graphq import g_degree_assortativity

        row = g_degree_assortativity(spark, SF_DIR).collect()[0]
        assert row.den_scaled > 0
        assert -1_000_000 <= row.r_ppm < 0, row


class TestMannKendall:
    def test_matches_pure_python_statistic(self, spark):
        from erkg_tutorials_spark.plans.graphq import events_mann_kendall
        from erkg_tutorials_spark.catalog import load_tables
        from pyspark.sql import functions as F

        d = (
            load_tables(spark, SF_DIR)["events"]
            .groupBy("event_type", F.expr("ts_sec div 86400").alias("day"))
            .count()
            .collect()
        )
        series: dict = {}
        for r in d:
            series.setdefault(r.event_type, {})[r.day] = r["count"]
        for row in events_mann_kendall(spark, SF_DIR).collect():
            xs = [x for _, x in sorted(series[row.event_type].items())]
            n = len(xs)
            s = sum(
                (0 if xs[j] == xs[i] else (1 if xs[j] > xs[i] else -1))
                for i in range(n)
                for j in range(i + 1, n)
            )
            ties: dict = {}
            for x in xs:
                ties[x] = ties.get(x, 0) + 1
            tie_term = sum(
                t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1
            )
            assert row.n_days == n and row.s_stat == s
            assert row.var18 == n * (n - 1) * (2 * n + 5) - tie_term


class TestSplitNeardupLeakage:
    def test_pairs_cross_splits_and_come_from_neardup_table(self, spark):
        import hashlib

        from erkg_tutorials_spark.plans.textq import (
            minhash_pairs_cached,
            split_neardup_leakage,
        )

        def split_of(doc_id: int) -> str:
            b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[12:16], 16) % 100
            return "train" if b < 80 else ("val" if b < 90 else "test")

        pairs = {
            (r.id_a, r.id_b)
            for r in minhash_pairs_cached(spark, SF_DIR).collect()
        }
        rows = split_neardup_leakage(spark, SF_DIR).collect()
        for r in rows:
            assert (r.id_a, r.id_b) in pairs
            assert r.split_a == split_of(r.id_a)
            assert r.split_b == split_of(r.id_b)
            assert r.split_a != r.split_b
        # and it is exactly the cross-split subset, nothing dropped
        expect = {
            (a, b) for a, b in pairs if split_of(a) != split_of(b)
        }
        assert {(r.id_a, r.id_b) for r in rows} == expect


class TestMixtureTemperature:
    def test_weights_flatten_toward_uniform_and_budget_consistent(
        self, spark
    ):
        from erkg_tutorials_spark.plans.llmops import (
            MIX_TAU_BUDGET_X,
            mixture_temperature_weights,
        )

        rows = mixture_temperature_weights(spark, SF_DIR).collect()
        assert len(rows) > 1
        total_w = sum(r.w_ppm for r in rows)
        assert abs(total_w - 1_000_000) <= len(rows)  # per-row rounding
        # tau=2 flattens: the spread of w is strictly inside the
        # spread of p_raw (sqrt compresses ratios)
        assert max(r.w_ppm for r in rows) <= max(r.p_raw_ppm for r in rows)
        assert min(r.w_ppm for r in rows) >= min(r.p_raw_ppm for r in rows)
        nn = sum(r.n_tokens for r in rows)
        for r in rows:
            assert r.tokens_target == (
                MIX_TAU_BUDGET_X * nn * r.w_ppm
            ) // 1_000_000
            assert r.epochs_x1000 == r.tokens_target * 1000 // r.n_tokens


class TestDiameterBoundFrontierBfs:
    def test_matches_pure_python_double_bfs(self, spark):
        """The frontier rewrite must reproduce the exact double-BFS
        eccentricities of a pure-python BFS from the same hash-picked
        start (determinism + correctness in one check)."""
        import hashlib
        from collections import deque

        from erkg_tutorials_spark.plans.graphq import trade_edges_sym
        from erkg_tutorials_spark.plans.graphq import g_diameter_bound

        adj: dict = {}
        for r in trade_edges_sym(spark, SF_DIR).collect():
            adj.setdefault(r.src, []).append(r.dst)

        def bfs(s):
            d = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                for v in adj[u]:
                    if v not in d:
                        d[v] = d[u] + 1
                        q.append(v)
            return d

        src0 = min(
            adj, key=lambda v: (hashlib.md5(f"diam:{v}".encode()).hexdigest(), v)
        )
        da = bfs(src0)
        far1 = min(da, key=lambda v: (-da[v], v))
        db = bfs(far1)
        far2 = min(db, key=lambda v: (-db[v], v))
        rows = {r.phase: r for r in g_diameter_bound(spark, SF_DIR).collect()}
        assert rows[1].source == src0 and rows[1].farthest == far1
        assert rows[1].ecc == da[far1]
        assert rows[2].source == far1 and rows[2].farthest == far2
        assert rows[2].ecc == db[far2]


class TestWeightedPagerank:
    def test_matches_pure_python_weighted_iteration(self, spark):
        from erkg_tutorials_spark.plans.graphq import trade_wedges_sym
        from erkg_tutorials_spark.plans.graphq import (
            WPR_ITERS,
            g_pagerank_weighted,
        )

        rows = trade_wedges_sym(spark, SF_DIR).collect()
        ws: dict = {}
        for r in rows:
            ws[r.src] = ws.get(r.src, 0) + r.w
        verts = sorted(ws)
        n = len(verts)
        rank = {v: 1.0 / n for v in verts}
        for _ in range(WPR_ITERS):
            contrib: dict = {}
            for r in rows:
                contrib[r.dst] = contrib.get(r.dst, 0.0) + rank[r.src] * (
                    r.w / ws[r.src]
                )
            rank = {
                v: 0.15 / n + 0.85 * contrib.get(v, 0.0) for v in verts
            }
        top = sorted(
            ((round(rv, 6), v) for v, rv in rank.items()),
            key=lambda t: (-t[0], t[1]),
        )[:20]
        got = [
            (r.rank, r.id) for r in g_pagerank_weighted(spark, SF_DIR).collect()
        ]
        for (er, ev), (gr, gv) in zip(top, got):
            assert ev == gv
            assert abs(er - gr) <= 2e-6, (ev, er, gr)


class TestSubstringSpans:
    def test_matches_pure_python_islands(self, spark):
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.analytics import (
            _NGRAM_N,
            dedup_substring_spans,
        )

        docs = {
            r.doc_id: r.text.lower().split(" ")
            for r in load_tables(spark, SF_DIR)["documents"].collect()
        }
        occ: dict = {}
        for d, wlist in docs.items():
            for i in range(len(wlist) - _NGRAM_N + 1):
                occ.setdefault(
                    " ".join(wlist[i : i + _NGRAM_N]), set()
                ).add(d)
        dup = {g for g, ds in occ.items() if len(ds) >= 2}
        expect = set()
        for d, wlist in docs.items():
            marks = [
                (i + 1, i + _NGRAM_N)
                for i in range(len(wlist) - _NGRAM_N + 1)
                if " ".join(wlist[i : i + _NGRAM_N]) in dup
            ]
            spans = []
            for s, e in marks:
                if spans and s <= spans[-1][1]:
                    spans[-1] = (spans[-1][0], max(spans[-1][1], e))
                else:
                    spans.append((s, e))
            for s, e in spans:
                expect.add((d, s, e))
        got = {
            (r.doc_id, r.span_start, r.span_end)
            for r in dedup_substring_spans(spark, SF_DIR).collect()
        }
        assert got == expect

    def test_spans_disjoint_and_minimum_width(self, spark):
        from erkg_tutorials_spark.plans.analytics import (
            _NGRAM_N,
            dedup_substring_spans,
        )

        rows = dedup_substring_spans(spark, SF_DIR).collect()
        assert rows
        by_doc: dict = {}
        for r in rows:
            assert r.span_words >= _NGRAM_N
            assert r.span_end - r.span_start + 1 == r.span_words
            by_doc.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end)
            )
        for spans in by_doc.values():
            spans.sort()
            for (s1, e1), (s2, _) in zip(spans, spans[1:]):
                assert s2 > e1  # maximal merge: no touching islands


class TestApproxQuantilesHistogram:
    def test_within_one_bin_of_exact_and_monotone(self, spark):
        import math

        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.eventsq import (
            HIST_BINS,
            approx_quantiles_histogram,
        )

        vals: dict = {}
        for r in (
            load_tables(spark, SF_DIR)["events"]
            .select("event_type", "value")
            .collect()
        ):
            vals.setdefault(r.event_type, []).append(float(r.value))
        got: dict = {}
        for r in approx_quantiles_histogram(spark, SF_DIR).collect():
            got[(r.event_type, r.q)] = r.est
        for et, xs in vals.items():
            xs.sort()
            width = (xs[-1] - xs[0]) / HIST_BINS
            ests = [got[(et, q)] for q in (25, 50, 75, 90)]
            assert ests == sorted(ests), (et, ests)
            for q in (25, 50, 75, 90):
                exact = xs[max(0, math.ceil(len(xs) * q / 100) - 1)]
                assert abs(got[(et, q)] - exact) <= width + 1e-9, (
                    et,
                    q,
                    got[(et, q)],
                    exact,
                    width,
                )
