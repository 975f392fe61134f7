"""Explicit StructTypes for every external data shape (SURVEY.md §1.3).

The reference parses the Senzing entity report permissively with
``.get()`` fallbacks; we make the schema explicit (fail-fast) and keep
PERMISSIVE-mode ingest as an option on the reader.

Canonical Senzing-report schema derived from every field access in
/root/reference/src/senzing_pipeline.py:66-76, 230-266, 335-360.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

FEATURE_STRUCT = StructType([StructField("FEAT_DESC", StringType())])

RECORD_STRUCT = StructType(
    [
        StructField("DATA_SOURCE", StringType()),
        StructField("RECORD_ID", StringType()),
        StructField("MATCH_KEY", StringType()),
        StructField("ENTITY_DESC", StringType()),
        StructField("INTERNAL_ID", LongType()),
    ]
)

RELATED_STRUCT = StructType(
    [
        StructField("ENTITY_ID", LongType()),
        StructField("MATCH_LEVEL_CODE", StringType()),
    ]
)

SENZING_REPORT_SCHEMA = StructType(
    [
        StructField(
            "RESOLVED_ENTITY",
            StructType(
                [
                    StructField("ENTITY_ID", LongType()),
                    StructField("ENTITY_NAME", StringType()),
                    StructField("FEATURES", MapType(StringType(), ArrayType(FEATURE_STRUCT))),
                    StructField("RECORDS", ArrayType(RECORD_STRUCT)),
                ]
            ),
        ),
        StructField("RELATED_ENTITIES", ArrayType(RELATED_STRUCT)),
    ]
)

# Senzing feature keys (reference EntityFeature enum,
# /root/reference/src/senzing_pipeline.py:40-51)
ENTITY_FEATURES = (
    "ADDRESS",
    "COUNTRY_OF_ASSOCIATION",
    "DOB",
    "DUNS_NUMBER",
    "GROUP_ASSOCIATION",
    "NAME",
    "PHONE",
    "RECORD_TYPE",
    "REL_ANCHOR",
    "REL_POINTER",
    "WEBSITE",
)

# MATCH_LEVEL_CODE domain (comment at senzing_pipeline.py:253)
MATCH_LEVELS = ("POSSIBLY_SAME", "POSSIBLY_RELATED", "RESOLVED", "DISCLOSED")

# KB artifact schemas (EntityData TypedDict, senzing_pipeline.py:115-120;
# alias rows, :289-305)
ENTITY_DATA_SCHEMA = StructType(
    [
        StructField("entity_id", StringType()),
        StructField("type", StringType()),
        StructField("name", StringType()),
        StructField("description", StringType()),
    ]
)

ALIAS_SCHEMA = StructType(
    [
        StructField("alias", StringType()),
        StructField("entities", ArrayType(StringType())),
        StructField("probabilities", ArrayType(DoubleType())),
    ]
)

# Parquet intermediates of the E1 asset DAG (pipelines/assets.py); a
# read with a declared schema runs no footer-inference job.
SUSPECT_IDS_SCHEMA = StructType([StructField("entity_id", StringType())])

FEATURES_SCHEMA = StructType(
    [
        StructField("entity_id", StringType()),
        StructField("features", MapType(StringType(), StringType())),
        StructField("_row_ord", LongType()),
    ]
)

ALIAS_RECORDS_SCHEMA = StructType(
    [
        StructField("alias", StringType()),
        StructField("entity", LongType()),
        StructField("type", StringType()),
        StructField("_row_ord", LongType()),
        StructField("branch", IntegerType()),
        StructField("pos", IntegerType()),
    ]
)

# country TSV (reference get_country, senzing_pipeline.py:21-31)
COUNTRY_SCHEMA = StructType(
    [StructField("code", StringType()), StructField("name", StringType())]
)
