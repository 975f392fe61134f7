"""Semantic tests for LLM-ops batch 3 (plans/llmops.py). Oracle
parity runs in test_oracle_parity.py; these pin the invariants a hash
match alone would not explain: packing-offset contiguity, the
keep-everything tier, mixture determinism, and maximal-run islands
semantics (checked against an independent pandas recompute).
"""

import pandas as pd
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.llmops import (
    MIN_STREAK,
    SEQ_BUDGET,
    data_mixture_sample,
    events_gaps_islands,
    pack_sequences,
)
from tests.conftest import SF_DIR


class TestPackSequences:
    def test_offsets_contiguous_per_source(self, spark):
        """Each source's token stream has no holes: doc k+1 starts
        exactly where doc k ended, and the first doc starts at 0."""
        pdf = pack_sequences(spark, SF_DIR).toPandas()
        for _, g in pdf.sort_values(["source", "doc_id"]).groupby("source"):
            assert g["start_off"].iloc[0] == 0
            ends = (g["start_off"] + g["n_tok"]).to_numpy()[:-1]
            starts = g["start_off"].to_numpy()[1:]
            assert (ends == starts).all()

    def test_sequence_span_matches_offsets(self, spark):
        pdf = pack_sequences(spark, SF_DIR).toPandas()
        assert (pdf["start_seq"] == pdf["start_off"] // SEQ_BUDGET).all()
        last_tok = pdf["start_off"] + pdf["n_tok"] - 1
        assert (pdf["end_seq"] == last_tok // SEQ_BUDGET).all()
        assert (pdf["n_seqs"] >= 1).all()
        # a doc shorter than the budget can span at most 2 sequences
        short = pdf[pdf["n_tok"] <= SEQ_BUDGET]
        assert (short["n_seqs"] <= 2).all()

    def test_total_sequence_count(self, spark):
        """max(end_seq) per source is the ceil-division sequence count
        of that source's total token stream."""
        pdf = pack_sequences(spark, SF_DIR).toPandas()
        for _, g in pdf.groupby("source"):
            total = int(g["n_tok"].sum())
            assert int(g["end_seq"].max()) == (total - 1) // SEQ_BUDGET


class TestDataMixtureSample:
    def test_full_rate_tier_keeps_everything(self, spark):
        """rate_bp=10000 sources: the coin (0..9999) is always under
        the rate, so nothing may be dropped."""
        pdf = data_mixture_sample(spark, SF_DIR).toPandas()
        full = pdf[pdf["rate_bp"] == 10000]
        assert len(full) > 0
        assert (full["n_kept"] == full["n_total"]).all()
        assert (full["tok_kept"] == full["tok_total"]).all()

    def test_partial_tiers_keep_subset(self, spark):
        pdf = data_mixture_sample(spark, SF_DIR).toPandas()
        part = pdf[pdf["rate_bp"] < 10000]
        assert (part["n_kept"] <= part["n_total"]).all()
        assert (part["tok_kept"] <= part["tok_total"]).all()

    def test_deterministic(self, spark):
        a = (
            data_mixture_sample(spark, SF_DIR)
            .toPandas()
            .sort_values("source")
            .reset_index(drop=True)
        )
        b = (
            data_mixture_sample(spark, SF_DIR)
            .toPandas()
            .sort_values("source")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)


class TestGapsIslands:
    def _pandas_islands(self, spark):
        e = (
            load_tables(spark, SF_DIR)["events"]
            .select("user_id", "event_id", "event_type", F.col("ts_sec").alias("sec"))
            .toPandas()
            .sort_values(["user_id", "sec", "event_id"])
        )
        out = []
        for uid, g in e.groupby("user_id"):
            run_type, run_len, run_start, run_end, run_first = None, 0, None, None, None
            for row in g.itertuples():
                if row.event_type == run_type:
                    run_len += 1
                    run_end = row.sec
                else:
                    if run_type is not None and run_len >= MIN_STREAK:
                        out.append((uid, run_type, run_len, run_start, run_end, run_first))
                    run_type, run_len = row.event_type, 1
                    run_start = run_end = row.sec
                    run_first = row.event_id
            if run_type is not None and run_len >= MIN_STREAK:
                out.append((uid, run_type, run_len, run_start, run_end, run_first))
        return pd.DataFrame(
            out,
            columns=[
                "user_id",
                "event_type",
                "streak_len",
                "start_sec",
                "end_sec",
                "first_event_id",
            ],
        )

    def test_matches_sequential_recompute(self, spark):
        got = (
            events_gaps_islands(spark, SF_DIR)
            .toPandas()
            .sort_values(["user_id", "first_event_id"])
            .reset_index(drop=True)
        )
        want = (
            self._pandas_islands(spark)
            .sort_values(["user_id", "first_event_id"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got.astype({"streak_len": "int64"}), want.astype({"streak_len": "int64"})
        )


class TestShardManifest:
    def test_covers_corpus_and_bounded_heads(self, spark):
        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.plans.llmops import N_SHARDS, shard_manifest
        from tests.conftest import SF_DIR

        rows = shard_manifest(spark, SF_DIR).collect()
        d = load_tables(spark, SF_DIR)["documents"]
        assert sum(r.n_docs for r in rows) == d.count()
        assert sum(r.total_chars for r in rows) == (
            d.agg({"n_chars": "sum"}).first()[0]
        )
        assert len(rows) <= N_SHARDS
        for r in rows:
            heads = r.head_docs.split(",")
            assert 1 <= len(heads) <= 3
            assert len(heads) == min(3, r.n_docs)

    def test_layout_is_deterministic(self, spark):
        """Re-running produces the identical manifest — no RNG
        state; the training order is a pure function of doc_id."""
        from erkg_tutorials_spark.plans.llmops import shard_manifest
        from tests.conftest import SF_DIR

        a = sorted(map(tuple, shard_manifest(spark, SF_DIR).collect()))
        b = sorted(map(tuple, shard_manifest(spark, SF_DIR).collect()))
        assert a == b

    def test_no_global_sort_in_plan(self, spark):
        """The within-shard order must come from a PARTITIONED
        window — a global Sort with no partitioning would be the
        single-task funnel this layout exists to avoid."""
        from erkg_tutorials_spark.plans.llmops import shard_manifest
        from tests.conftest import SF_DIR

        plan = (
            shard_manifest(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        import re

        for m in re.finditer(r"Window \[.*?windowspecdefinition\(([^)]*)\)", plan):
            assert "shard" in m.group(1), plan


class TestE3PretrainShards:
    """Composition invariants for the e3 pipeline — conservation
    against its own building blocks, which a shard-level hash match
    alone would not explain."""

    def test_conserves_stage_outputs(self, spark):
        from erkg_tutorials_spark.plans.coverage import dedup_keep_best
        from erkg_tutorials_spark.plans.llmops import e3_pretrain_shards
        from erkg_tutorials_spark.text.quality import logistic_quality

        manifest = e3_pretrain_shards(spark, SF_DIR).toPandas()
        kept = dedup_keep_best(spark, SF_DIR).toPandas()["kept_doc_id"]
        docs = load_tables(spark, SF_DIR)["documents"]
        kept_df = spark.createDataFrame(
            [(int(i),) for i in kept], "doc_id bigint"
        )
        scored = logistic_quality(
            docs.join(kept_df, "doc_id"), include_n_tokens=True
        ).toPandas()
        survivors = scored[scored["keep"]]
        assert manifest["n_docs"].sum() == len(survivors)
        assert manifest["n_tokens"].sum() == survivors["n_tokens"].sum()

    def test_shard_ids_in_range(self, spark):
        from erkg_tutorials_spark.plans.llmops import N_SHARDS, e3_pretrain_shards

        pdf = e3_pretrain_shards(spark, SF_DIR).toPandas()
        assert pdf["shard"].between(0, N_SHARDS - 1).all()
        assert pdf["shard"].is_unique

    def test_fingerprint_is_order_independent_xor(self, spark):
        """Recompute each shard's fp from per-doc keys in a different
        order; xor must agree (the property that lets the manifest be
        computed without any per-shard ordering)."""
        from functools import reduce

        from erkg_tutorials_spark.plans.llmops import N_SHARDS, e3_pretrain_shards
        from erkg_tutorials_spark.plans.registry import ORACLES

        import duckdb

        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        manifest = e3_pretrain_shards(spark, SF_DIR).toPandas()
        # per-doc keys from the oracle's own CTE chain, reversed order
        sql = ORACLES["e3_pretrain_shards"]
        inner = sql[: sql.rindex("SELECT shard")] + (
            "SELECT shard, dockey FROM sharded ORDER BY dockey DESC"
        )
        per_doc = con.sql(inner).df()
        for _, row in manifest.iterrows():
            keys = per_doc[per_doc["shard"] == row["shard"]]["dockey"]
            fp = reduce(lambda a, b: a ^ b, (int(k) for k in keys))
            assert fp == int(row["docset_fp"])
