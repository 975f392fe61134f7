"""Tabular sources/sinks S4-S8 (SURVEY.md §2.1).

- S4: TSV with header skip (country code → name lookup,
  /root/reference/src/senzing_pipeline.py:21-31)
- S5: text lines, rstrip'd (suspicious names, :406-408)
- S6: JSONL read (srsly.read_jsonl equivalent)
- S7/S8: JSONL sinks (:201-209, :308-312)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from erkg_tutorials_spark.schemas import COUNTRY_SCHEMA


def load_countries(spark: SparkSession, path: str) -> DataFrame:
    """S4: country TSV (header row) → (code, name). Tiny dim table —
    always broadcast at the join site (J1). The declared schema spares
    the header-inference job."""
    return spark.read.option("sep", "\t").option("header", True).schema(COUNTRY_SCHEMA).csv(path)


def load_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """S5: one value per line, trailing whitespace stripped."""
    return spark.read.text(path).select(F.rtrim("value").alias("value"))


def read_jsonl(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S6: JSON-lines read with optional explicit schema (PERMISSIVE
    mode matches the reference's tolerant parsing)."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7/S8: one JSON object per line."""
    df.write.mode(mode).json(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet sink — the 100 TB artifact layout.

    Partition columns become directory levels (``lang=en/…``), so any
    downstream filter on them prunes whole directories at planning time
    (``PartitionFilters`` in the scan, zero IO for pruned values) —
    the partition-level analogue of the row-group pushdown the flat
    testdata files already exercise. Choose low-cardinality columns
    (lang, split, date); high-cardinality partitioning fragments the
    table into tiny files.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header + full quoting/escaping (round-trip safe
    for embedded commas/quotes/newlines in string columns)."""
    (
        df.write.mode(mode)
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        # the writer TRIMS cell whitespace by default — disable both
        # so values round-trip verbatim
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV source; explicit schema (never inferSchema — schema
    inference is a full extra pass over the data and type-unstable
    across files, both unacceptable at scale).

    ``multiLine`` honors quoted embedded newlines (note: a multiline
    CSV file is not splittable — each file parses on one task, so
    sinks feeding this reader should write many moderate files);
    whitespace is preserved verbatim rather than trimmed."""
    return (
        spark.read.option("header", True)
        .option("escape", '"')
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .schema(schema)
        .csv(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — second columnar format beside parquet (same
    predicate-pushdown / column-pruning behavior in the scan)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (schema read from file footers, like parquet)."""
    return spark.read.orc(path)
