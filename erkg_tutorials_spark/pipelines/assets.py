"""Per-asset incremental materialization for the E1 Senzing pipeline.

Dagster parity: the reference wires the pipeline as a Dagster asset
DAG and re-materializes only stale assets on each run
(/root/reference/dagster_icij/assets.py:42-137, definitions.py:7-12).
The Spark-native equivalent here: every intermediate is an on-disk
artifact (parquet for relational intermediates, JSONL for the two
published KB artifacts, matching run_senzing_pipeline's S7/S8 sinks),
and ``materialize_senzing_assets`` walks the DAG in topological order,
loading any asset whose artifact already exists instead of recomputing
it. A killed run resumes from its last completed sink: if
``suspect_ids``/``features``/``alias_records`` are on disk, resuming
``aliases`` never re-scans the report — the report path may even be
gone (pinned by tests/test_asset_resume.py, which resumes with a
nonexistent report path).

Staleness here is existence-based (the _SUCCESS marker Spark writes
with every committed output). Content-based staleness (input
fingerprints) composes on top by keying the out_dir on the input
fingerprint — the same move the driver's sf_dir-keyed memos make.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from erkg_tutorials_spark.pipelines.senzing_pipeline import (
    filter_suspicious,
    generate_aliases,
    generate_entities,
)
from erkg_tutorials_spark.schemas import (
    ALIAS_RECORDS_SCHEMA,
    ALIAS_SCHEMA,
    ENTITY_DATA_SCHEMA,
    FEATURES_SCHEMA,
    SUSPECT_IDS_SCHEMA,
)
from erkg_tutorials_spark.sources.senzing import (
    alias_records,
    entity_features,
    graph_tables,
    read_senzing_report,
    related_pairs,
)
from erkg_tutorials_spark.sources.tabular import (
    load_countries,
    load_text_lines,
    read_jsonl,
    write_jsonl,
)

# topological order; name -> (format, schema). Every read-back uses the
# declared schema, so no read runs a schema-inference job.
ASSETS = {
    "suspect_ids": ("parquet", SUSPECT_IDS_SCHEMA),
    "features": ("parquet", FEATURES_SCHEMA),
    "alias_records": ("parquet", ALIAS_RECORDS_SCHEMA),
    "entities": ("jsonl", ENTITY_DATA_SCHEMA),
    "aliases": ("jsonl", ALIAS_SCHEMA),
}


def _committed(spark: SparkSession, path: str) -> bool:
    """True iff a Spark job finished writing the artifact (the
    _SUCCESS marker commits atomically after all task files). A
    half-written output from a killed run is treated as absent.

    Goes through the Hadoop FileSystem API (not os.path) so the
    resume/skip logic works on any committer-backed URI — s3a://,
    hdfs://, file:// — the same surface index_store's writer path
    supports. (r5 ADVICE: the os.path.exists version silently rebuilt
    everything on non-POSIX out_dirs.)"""
    jvm = spark.sparkContext._jvm
    marker = jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
    fs = marker.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return bool(fs.exists(marker))


def materialize_senzing_assets(
    spark: SparkSession,
    report_path: str,
    suspicious_path: str,
    countries_path: str,
    out_dir: str,
    upto: str | None = None,
) -> dict[str, str]:
    """Materialize the E1 asset DAG under ``out_dir``; returns
    {asset: "built" | "cached"} for the assets visited.

    ``upto`` stops after that asset (inclusive) — the test's "kill
    after the entities sink" is ``upto="entities"``. Already-committed
    artifacts are never recomputed; the report is scanned only if some
    report-derived asset is missing.
    """
    if upto is not None and upto not in ASSETS:
        raise ValueError(
            f"upto={upto!r} is not an asset; expected one of {list(ASSETS)}"
        )
    paths = {name: os.path.join(out_dir, name) for name in ASSETS}
    log: dict[str, str] = {}

    # the raw report scan is shared by the three report-derived assets
    # and built lazily at most once per run
    raw_holder: list[DataFrame] = []

    def raw() -> DataFrame:
        if not raw_holder:
            raw_holder.append(read_senzing_report(spark, report_path).cache())
        return raw_holder[0]

    def ids() -> DataFrame:
        return load_asset(spark, out_dir, "suspect_ids")

    builders = {
        "suspect_ids": lambda: filter_suspicious(
            load_text_lines(spark, suspicious_path), graph_tables(raw())[0], related_pairs(raw())
        ),
        "features": lambda: entity_features(raw()).join(
            ids(), "entity_id", "left_semi"
        ),
        "alias_records": lambda: (
            lambda ar: ar.join(
                ids(), ar["entity"].cast("string") == F.col("entity_id"), "left_semi"
            )
        )(alias_records(raw())),
        "entities": lambda: generate_entities(
            load_asset(spark, out_dir, "features"),
            load_countries(spark, countries_path),
        ),
        "aliases": lambda: generate_aliases(load_asset(spark, out_dir, "alias_records")),
    }

    for name, (fmt, _) in ASSETS.items():
        path = paths[name]
        if _committed(spark, path):
            log[name] = "cached"
        else:
            df = builders[name]()
            if fmt == "parquet":
                df.write.mode("overwrite").parquet(path)
            else:
                write_jsonl(df, path)
            log[name] = "built"
        if name == upto:
            break
    for df in raw_holder:
        df.unpersist()
    return log


def load_asset(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    fmt, schema = ASSETS[name]
    path = os.path.join(out_dir, name)
    if fmt == "parquet":
        return spark.read.schema(schema).parquet(path)
    return read_jsonl(spark, path, schema)
