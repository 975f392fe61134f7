"""S1-S3 — Senzing entity-report ingest (SURVEY.md §2.1).

One JSONL scan, three projections — where the reference parses the
report three separate times (senzing_pipeline.py:61, :225, :333), we
read once (cache at the pipeline level) and derive:

- :func:`entity_features`  (S1, load_entities :54-80)
- :func:`alias_records`    (S2, load_aliases :218-269)
- :func:`graph_tables`     (S3/G1, extract_senzing_results :329-370)
- :func:`related_pairs`    (the raw (src, dst) relation behind its edges)

Order parity: several reference outputs depend on *file order* (alias
Counter insertion order, first-non-empty entity name). We carry an
explicit order key ``(_row_ord, branch, pos)`` derived from
``monotonically_increasing_id`` over the scan (monotone in file order
for a single multi-split file) plus intra-array positions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.functions.entity_type import entity_type_alias_path
from erkg_tutorials_spark.schemas import SENZING_REPORT_SCHEMA


def read_senzing_report(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first JSONL scan of the Senzing report (explicit
    StructType, PERMISSIVE for reference-matching tolerance)."""
    return (
        spark.read.schema(SENZING_REPORT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .json(path)
        .withColumn("_row_ord", F.monotonically_increasing_id())
    )


def entity_features(raw: DataFrame) -> DataFrame:
    """S1: (entity_id string, features map<string,string>) — keeps only
    the first FEAT_DESC per feature key (senzing_pipeline.py:71-74).
    String entity ids replicate the reference's str() coercion (:69)."""
    return raw.select(
        F.col("RESOLVED_ENTITY.ENTITY_ID").cast("string").alias("entity_id"),
        F.transform_values(
            F.col("RESOLVED_ENTITY.FEATURES"), lambda _, v: F.get(v, 0)["FEAT_DESC"]
        ).alias("features"),
        F.col("_row_ord"),
    )


def alias_records(raw: DataFrame, include_possibly_related: bool = True) -> DataFrame:
    """S2/J4/U3: alias rows from two projections of the same scan.

    Branch 0 — RECORDS: (alias=ENTITY_DESC, entity=INTERNAL_ID)
    (senzing_pipeline.py:240-247). Branch 1 — RELATED_ENTITIES with
    MATCH_LEVEL_CODE ∈ {POSSIBLY_SAME, RESOLVED, DISCLOSED} (F3):
    (alias=ENTITY_NAME, entity=related ENTITY_ID) (:252-262). Rows with
    falsy ENTITY_NAME are skipped entirely (F2, :234-235). ``type``
    uses the alias-path C8 semantics (see functions/entity_type.py).
    """
    base = raw.where(
        F.col("RESOLVED_ENTITY.ENTITY_NAME").isNotNull()
        & (F.col("RESOLVED_ENTITY.ENTITY_NAME") != "")
    ).select(
        "_row_ord",
        F.col("RESOLVED_ENTITY.ENTITY_NAME").alias("_name"),
        entity_type_alias_path(F.col("RESOLVED_ENTITY.FEATURES")).alias("type"),
        F.col("RESOLVED_ENTITY.RECORDS").alias("_records"),
        F.col("RELATED_ENTITIES").alias("_related"),
    )

    from_records = base.select(
        "_row_ord",
        F.lit(0).alias("branch"),
        F.posexplode("_records").alias("pos", "rec"),
        "type",
    ).select(
        F.col("rec.ENTITY_DESC").alias("alias"),
        F.col("rec.INTERNAL_ID").alias("entity"),
        "type",
        "_row_ord",
        "branch",
        "pos",
    )
    if not include_possibly_related:
        return from_records

    from_related = (
        base.select(
            "_row_ord",
            F.lit(1).alias("branch"),
            F.posexplode("_related").alias("pos", "rel"),
            "_name",
            "type",
        )
        .where(F.col("rel.MATCH_LEVEL_CODE").isin("POSSIBLY_SAME", "RESOLVED", "DISCLOSED"))
        .select(
            F.col("_name").alias("alias"),
            F.col("rel.ENTITY_ID").alias("entity"),
            "type",
            "_row_ord",
            "branch",
            "pos",
        )
    )
    return from_records.unionByName(from_related)


def related_pairs(raw: DataFrame) -> DataFrame:
    """(src, dst) for every RELATED_ENTITIES element, duplicates kept.
    The pairs of :func:`graph_tables`' edges without its last-wins
    window: a reachability walk that dedups each hop (``k_hop``) needs
    nothing more."""
    return raw.select(
        F.col("RESOLVED_ENTITY.ENTITY_ID").alias("src"),
        F.explode("RELATED_ENTITIES.ENTITY_ID").alias("dst"),
    )


def graph_tables(raw: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """S3/G1/G4/A6/A7/C9: (vertices, edges, records) property graph.

    - records: exploded RECORDS with ``record_uid = UPPER(DATA_SOURCE)
      || '.' || RECORD_ID`` (C4, :342) and blank MATCH_KEY → "INITIAL"
      (C9, :344-347); the reference stores these in a dict so a
      duplicate record_uid keeps the *last* occurrence.
    - vertices: (entity_uid, name, num_recs, has_ref) where name is the
      first non-empty ENTITY_DESC in array order else str(uid) (A6,
      :349-353), num_recs counts distinct record_uids (A2, :359), and
      has_ref = num_recs > 0 OR referenced by any RELATED_ENTITIES
      (A7/G4, :363-368).
    - edges: exploded RELATED_ENTITIES (src, dst, match_level_code),
      last occurrence winning per (src, dst) (dict build at :360).
    """
    exploded = raw.select(
        F.col("RESOLVED_ENTITY.ENTITY_ID").alias("entity_uid"),
        F.posexplode("RESOLVED_ENTITY.RECORDS").alias("pos", "rec"),
    ).select(
        "entity_uid",
        "pos",
        F.concat_ws(".", F.upper(F.col("rec.DATA_SOURCE")), F.col("rec.RECORD_ID")).alias(
            "record_uid"
        ),
        F.when(F.trim(F.col("rec.MATCH_KEY")) == "", "INITIAL")
        .otherwise(F.col("rec.MATCH_KEY"))
        .alias("match_key"),
    )
    last_wins = Window.partitionBy("entity_uid", "record_uid").orderBy(F.desc("pos"))
    records = (
        exploded.withColumn("_rn", F.row_number().over(last_wins))
        .where(F.col("_rn") == 1)
        .select("entity_uid", "record_uid", "match_key")
    )

    rel = raw.select(
        F.col("RESOLVED_ENTITY.ENTITY_ID").alias("src"),
        F.posexplode("RELATED_ENTITIES").alias("pos", "rel"),
    )
    edge_last = Window.partitionBy("src", "dst").orderBy(F.desc("pos"))
    edges = (
        rel.select(
            "src", F.col("rel.ENTITY_ID").alias("dst"), F.col("rel.MATCH_LEVEL_CODE").alias("match_level_code"), "pos"
        )
        .withColumn("_rn", F.row_number().over(edge_last))
        .where(F.col("_rn") == 1)
        .select("src", "dst", "match_level_code")
    )

    num_recs = records.groupBy("entity_uid").agg(F.count("*").alias("num_recs"))
    referenced = edges.select(F.col("dst").alias("entity_uid")).distinct().withColumn(
        "_referenced", F.lit(True)
    )
    first_desc = F.get(
        F.filter(
            F.col("RESOLVED_ENTITY.RECORDS"),
            lambda r: r["ENTITY_DESC"].isNotNull() & (r["ENTITY_DESC"] != ""),
        ),
        0,
    )["ENTITY_DESC"]
    vertices = (
        raw.select(
            F.col("RESOLVED_ENTITY.ENTITY_ID").alias("entity_uid"),
            F.coalesce(first_desc, F.col("RESOLVED_ENTITY.ENTITY_ID").cast("string")).alias(
                "name"
            ),
        )
        .join(num_recs, "entity_uid", "left")
        .join(referenced, "entity_uid", "left")
        .select(
            "entity_uid",
            "name",
            F.coalesce("num_recs", F.lit(0)).alias("num_recs"),
            (
                (F.coalesce("num_recs", F.lit(0)) > 0) | F.coalesce("_referenced", F.lit(False))
            ).alias("has_ref"),
        )
    )
    return vertices, edges, records
