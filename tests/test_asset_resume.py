"""E1 kill-and-resume (Dagster parity, VERDICT r4 item 10).

The reference re-materializes only stale assets
(/root/reference/dagster_icij/assets.py:42-137). Here: a run killed
after the entities sink resumes aliases from the materialized
intermediates WITHOUT re-scanning the report — proven by resuming with
a nonexistent report path, which would throw on any re-scan."""

import os

import pytest
from pyspark.sql import Row

from erkg_tutorials_spark.pipelines.assets import (
    load_asset,
    materialize_senzing_assets,
)
from erkg_tutorials_spark.pipelines.entity_linking import (
    extract_mentions,
    link_entities,
    with_self_aliases,
)
from erkg_tutorials_spark.pipelines.senzing_pipeline import run_senzing_pipeline
from erkg_tutorials_spark.sources.tabular import load_countries

from tests.senzing_fixture import write_fixture


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    return write_fixture(str(tmp_path_factory.mktemp("senzing_assets")))


class TestKillAndResume:
    def test_resume_after_entities_without_report(self, spark, fixture, tmp_path):
        out = str(tmp_path / "assets")
        # phase 1: run up to and including the entities sink, then "die"
        log1 = materialize_senzing_assets(
            spark,
            fixture["report"],
            fixture["suspicious"],
            fixture["countries"],
            out,
            upto="entities",
        )
        assert log1 == {
            "suspect_ids": "built",
            "features": "built",
            "alias_records": "built",
            "entities": "built",
        }
        assert not os.path.exists(os.path.join(out, "aliases", "_SUCCESS"))

        # phase 2: resume with the report GONE — every report-derived
        # asset must come from disk; only aliases is built
        log2 = materialize_senzing_assets(
            spark,
            str(tmp_path / "no_such_report.jsonl"),
            fixture["suspicious"],
            fixture["countries"],
            out,
        )
        assert log2 == {
            "suspect_ids": "cached",
            "features": "cached",
            "alias_records": "cached",
            "entities": "cached",
            "aliases": "built",
        }

        # resumed artifacts must equal a straight-through pipeline run
        entities_df, aliases_df = run_senzing_pipeline(
            spark, fixture["report"], fixture["suspicious"], fixture["countries"]
        )
        got_e = sorted(map(tuple, load_asset(spark, out, "entities")
                           .select(*entities_df.columns).collect()))
        want_e = sorted(map(tuple, entities_df.collect()))
        assert got_e == want_e and len(want_e) > 0
        got_a = sorted(map(tuple, load_asset(spark, out, "aliases")
                           .select(*aliases_df.columns).collect()))
        want_a = sorted(map(tuple, aliases_df.collect()))
        assert got_a == want_a and len(want_a) > 0

    def test_half_written_artifact_is_rebuilt(self, spark, fixture, tmp_path):
        """A killed task run (files present, no _SUCCESS) counts as
        absent — resume rebuilds it rather than trusting partial
        output."""
        out = str(tmp_path / "assets2")
        materialize_senzing_assets(
            spark,
            fixture["report"],
            fixture["suspicious"],
            fixture["countries"],
            out,
            upto="suspect_ids",
        )
        os.remove(os.path.join(out, "suspect_ids", "_SUCCESS"))
        log = materialize_senzing_assets(
            spark,
            fixture["report"],
            fixture["suspicious"],
            fixture["countries"],
            out,
            upto="suspect_ids",
        )
        assert log == {"suspect_ids": "built"}


class TestReadSide:
    def test_e3_construction_runs_no_job(self, spark, fixture, tmp_path):
        """Building the E3 plan over the read-back assets runs no Spark
        job: every read has a declared schema and nothing is collected
        eagerly. Jobs run only when the caller asks for rows."""
        out = str(tmp_path / "assets")
        materialize_senzing_assets(
            spark, fixture["report"], fixture["suspicious"], fixture["countries"], out
        )
        docs = spark.createDataFrame([Row(doc_id=1, text="acme holdings filed in panama")])
        sc = spark.sparkContext
        group = "e3-construction"
        sc.setJobGroup(group, "build the E3 read side")
        try:
            entities = load_asset(spark, out, "entities")
            aliases = with_self_aliases(load_asset(spark, out, "aliases"), entities)
            mentions = extract_mentions(docs, aliases)
            link_entities(docs, mentions, aliases, entities)
            load_countries(spark, fixture["countries"])
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs == []
