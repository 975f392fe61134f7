"""Unit/property tests for the operator library (SURVEY.md §5 strategy:
property tests for A1/U1/G3/F1 invariants + behavior tests)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from erkg_tutorials_spark.dedup.exact import exact_dedup
from erkg_tutorials_spark.dedup.minhash import minhash_lsh_dedup, shingles
from erkg_tutorials_spark.graph.khop import k_hop, k_hop_labeled
from erkg_tutorials_spark.similarity.knn import cosine_knn_bruteforce
from erkg_tutorials_spark.text.quality import quality_scores


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def _seeds(spark, ids):
    return spark.createDataFrame([Row(id=i) for i in ids])


class TestKHop:
    # chain: 1 -> 2 -> 3 -> 4, plus 1 -> 5
    PAIRS = [(1, 2), (2, 3), (3, 4), (1, 5)]

    def test_two_hop_reach(self, spark):
        got = k_hop(_edges(spark, self.PAIRS), _seeds(spark, [1]), k=2)
        assert {r.id for r in got.collect()} == {1, 2, 3, 5}

    def test_hop_labels_minimal(self, spark):
        got = {
            r.id: r.hop
            for r in k_hop_labeled(_edges(spark, self.PAIRS), _seeds(spark, [1]), k=2).collect()
        }
        assert got == {1: 0, 2: 1, 5: 1, 3: 2}

    def test_monotone_reach(self, spark):
        """2-hop reach ⊇ 1-hop reach ⊇ seeds (U1/G3 invariant)."""
        e, s = _edges(spark, self.PAIRS), _seeds(spark, [1])
        r1 = {r.id for r in k_hop(e, s, k=1).collect()}
        r2 = {r.id for r in k_hop(e, s, k=2).collect()}
        assert {1} <= r1 <= r2

    def test_cycle_terminates(self, spark):
        got = k_hop(_edges(spark, [(1, 2), (2, 1)]), _seeds(spark, [1]), k=3)
        assert {r.id for r in got.collect()} == {1, 2}


class TestDedup:
    def test_exact_dedup_groups(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b"), Row(doc_id=2, text="a b"), Row(doc_id=3, text="c")]
        )
        got = {r.doc_id: (r.canonical_id, r.is_dup) for r in exact_dedup(df).collect()}
        assert got == {1: (1, False), 2: (1, True), 3: (3, False)}

    def test_shingles_short_doc_empty(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="only two")])
        assert shingles(df, k=5).count() == 0

    def test_minhash_finds_identical_docs(self, spark):
        text = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=text),
                Row(doc_id=2, text=text),
                Row(doc_id=3, text="completely different words entirely unrelated content here now ok"),
            ]
        )
        pairs = minhash_lsh_dedup(df, threshold=0.9).collect()
        assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]

    def test_jaccard_bounds(self, spark):
        base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
        df = spark.createDataFrame(
            [Row(doc_id=1, text=base), Row(doc_id=2, text=base + " extra")]
        )
        pairs = minhash_lsh_dedup(df, threshold=0.0).collect()
        for p in pairs:
            assert 0.0 <= p.jaccard <= 1.0


class TestKnn:
    def test_nearest_is_identical_vector(self, spark):
        rows = [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[1.0, 0.0]),   # identical to 0
            Row(vec_id=2, embedding=[0.0, 1.0]),   # orthogonal
            Row(vec_id=3, embedding=[-1.0, 0.0]),  # opposite
        ]
        df = spark.createDataFrame(rows)
        got = cosine_knn_bruteforce(df, df.where(F.col("vec_id") == 0), k=3).collect()
        ranked = [(r.neighbor_id, r.cosine) for r in sorted(got, key=lambda r: r.rank)]
        assert ranked == [(1, 1.0), (2, 0.0), (3, -1.0)]


class TestQuality:
    def test_ratios(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="the cat the dog")])
        r = quality_scores(df).collect()[0]
        assert r.n_tokens == 4
        assert r.n_distinct == 3
        assert r.stopword_ratio == 0.5  # 'the' twice
        assert r.avg_token_len == 3.0


class TestA1Invariants:
    def test_probabilities_sum_to_one(self, spark):
        from erkg_tutorials_spark.plans.relational import a1_alias_distribution
        from tests.conftest import SF_DIR

        pdf = a1_alias_distribution(spark, SF_DIR).toPandas()
        sums = pdf.groupby("alias")["prob"].sum()
        assert ((sums - 1.0).abs() < 1e-4).all()
        # counts conserved: per-alias cnt sums equal customer count
        import duckdb

        total = pdf["cnt"].sum()
        expected = duckdb.sql(f"SELECT COUNT(*) FROM '{SF_DIR}/customer.parquet'").fetchone()[0]
        assert total == expected


class TestRepetitionScores:
    def test_known_repetition(self, spark):
        from pyspark.sql import Row

        from erkg_tutorials_spark.text.quality import repetition_scores

        docs = spark.createDataFrame(
            [
                # "ab cd" repeated 4x: top 2-gram "ab cd" occurs 4 times
                Row(doc_id=1, text="ab cd ab cd ab cd ab cd"),
                Row(doc_id=2, text="all distinct words here now"),
            ]
        )
        got = {r.doc_id: r for r in repetition_scores(docs).collect()}
        # doc 1: len 23; "ab cd" (5 chars) x4 = 20/23
        assert abs(got[1].frac_top_2gram - round(20 / 23, 6)) < 1e-9
        assert got[1].top_token_ratio == 0.5
        assert got[1].frac_dup_3gram > 0.5
        # doc 2: no repeats anywhere
        assert got[2].frac_dup_3gram == 0.0
        assert got[2].top_token_ratio == 0.2

    def test_single_token_doc(self, spark):
        from pyspark.sql import Row

        from erkg_tutorials_spark.text.quality import repetition_scores

        docs = spark.createDataFrame([Row(doc_id=1, text="lonely")])
        r = repetition_scores(docs).collect()[0]
        # no 2-grams at all -> 0.0 via the coalesce
        assert (r.frac_top_2gram, r.frac_dup_3gram, r.top_token_ratio) == (
            0.0, 0.0, 1.0,
        )


class TestCli:
    def test_list_and_oracle(self, capsys):
        from erkg_tutorials_spark.__main__ import main

        assert main(["list", "q1_"]) == 0
        out = capsys.readouterr().out
        assert "q1_pricing_summary" in out.splitlines()
        assert main(["oracle", "q1_pricing_summary"]) == 0
        assert "SELECT" in capsys.readouterr().out.upper()
        assert main(["oracle", "nope"]) == 1
