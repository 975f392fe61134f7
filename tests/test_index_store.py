"""Persisted vector-index round-trip (S11 parity).

Reference behavior: the LanceDB KB is built once, persisted to a uri,
and reloaded across processes (/root/reference/dagster_icij/assets.py:
126-128). Here: train → save_index → wipe the session memos →
load_index → every ANN query family must produce byte-identical
results from the loaded state, without retraining.
"""

import pytest

from erkg_tutorials_spark.plans import memo
from erkg_tutorials_spark.plans.registry import QUERIES
from erkg_tutorials_spark.similarity.index_store import (
    ARTIFACTS,
    index_params,
    load_index,
    save_index,
)

from tests.conftest import SF_DIR

ANN_QUERIES = ["knn_cosine_ivf", "knn_cosine_sq8", "knn_cosine_pq", "knn_cosine_ivfpq"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark):
    """A directory that already holds a saved index — the save happens
    HERE so every test below is independently runnable by node id
    (r5 ADVICE: the manifest tests used to depend on the round-trip
    test having run first)."""
    path = str(tmp_path_factory.mktemp("vector_index"))
    save_index(spark, SF_DIR, path)
    return path


class TestIndexRoundTrip:
    def test_save_load_identical_results(self, spark, index_dir):
        fresh = {q: _rows(QUERIES[q](spark, SF_DIR)) for q in ANN_QUERIES}
        artifacts_before = {
            name: _rows(df)
            for name, df in _train_artifacts(spark).items()
        }

        assert memo.release(spark, sf_dir=SF_DIR) > 0  # memos existed; now wiped

        loaded = load_index(spark, SF_DIR, index_dir)
        # 1) every artifact survives the Parquet round trip exactly
        for name in ARTIFACTS:
            assert _rows(loaded[name]) == artifacts_before[name], name
        # 2) loaded state is a file scan, not a retraining plan
        for name in ARTIFACTS:
            plan = loaded[name]._jdf.queryExecution().analyzed().toString()
            assert "parquet" in plan, name
        # 3) every ANN query replays bit-identically from the loaded index
        for q in ANN_QUERIES:
            assert _rows(QUERIES[q](spark, SF_DIR)) == fresh[q], q

    def test_param_mismatch_fails_closed(self, spark, index_dir, monkeypatch):
        from erkg_tutorials_spark.plans import vectorq as vq

        monkeypatch.setattr(vq, "KMEANS_K", vq.KMEANS_K + 1)
        with pytest.raises(ValueError, match="kmeans_k"):
            load_index(spark, SF_DIR, index_dir)

    def test_manifest_records_current_params(self, spark, index_dir):
        stored = spark.read.parquet(f"{index_dir}/_manifest").first().asDict()
        assert stored == index_params()

    def test_cli_default_family_loads_bare_legacy_layout(
        self, spark, index_dir, capsys
    ):
        """`index load <path>` with the r6 default --family=all must
        still open an r5-era artifact, where the vector family lives
        at the BARE path (no <path>/vector nesting)."""
        from erkg_tutorials_spark.__main__ import main

        assert main(["index", "load", index_dir, "--sf-dir", SF_DIR]) == 0
        out = capsys.readouterr().out
        assert "bare vector layout" in out
        assert "loaded [vector]" in out
        assert "[graph]" not in out


def _train_artifacts(spark):
    from erkg_tutorials_spark.similarity.index_store import _getters

    return {name: _getters(spark, SF_DIR)[name]() for name in ARTIFACTS}
