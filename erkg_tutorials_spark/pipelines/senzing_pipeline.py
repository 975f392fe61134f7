"""E1 — the Senzing data pipeline, end-to-end (SURVEY.md §3).

Reference: ``main()`` at /root/reference/src/senzing_pipeline.py:400-421.
Where the reference eagerly re-parses the report three times and loops
row-at-a-time in Python, this is one cached scan feeding a lazy DAG
with two JSONL sink actions. Semantics (including the two documented
C8 type bugs and the file-order-dependent alias distributions) match
the reference exactly — verified against a pure-Python oracle in
tests/test_senzing_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.functions.bearer import keep_name
from erkg_tutorials_spark.graph.khop import k_hop
from erkg_tutorials_spark.sources.senzing import (
    alias_records,
    entity_features,
    graph_tables,
    read_senzing_report,
    related_pairs,
)
from erkg_tutorials_spark.sources.tabular import load_countries, load_text_lines, write_jsonl


def generate_entities(features_df: DataFrame, countries_df: DataFrame) -> DataFrame:
    """C7/C8/F1/F2/J1 — KB entity descriptions
    (reference generate_entities, senzing_pipeline.py:138-198).

    Faithful semantics: only entities with a non-empty NAME feature
    (F2, :151-155); bearer blocklist on the stripped name (F1, :157);
    type from the entities path — constant ORG due to the reference's
    enum/str key bug (:158 + :122-135), so every description uses the
    ORG clause order: located at, DUNS, phone, in <country>, website
    (:161-173). Clauses skip empty strings (walrus-truthiness).
    """
    feat = lambda k: F.try_element_at(F.col("features"), F.lit(k))
    df = (
        features_df.withColumn("name", feat("NAME"))
        .where(F.col("name").isNotNull() & (F.col("name") != ""))
        .where(keep_name(F.col("name")))
    )
    # J1: broadcast dim lookup, code strip()ped (get_country, :34-37)
    df = df.join(
        F.broadcast(countries_df.select(F.col("code"), F.col("name").alias("_country"))),
        F.trim(feat("COUNTRY_OF_ASSOCIATION")) == F.col("code"),
        "left",
    )

    def clause(prefix: str, col) -> F.Column:
        return F.when(col.isNotNull() & (col != ""), F.concat(F.lit(prefix), col)).otherwise(
            F.lit("")
        )

    description = F.concat(
        F.col("name"),
        clause(", located at ", feat("ADDRESS")),
        clause(", DUNS ", feat("DUNS_NUMBER")),
        clause(", phone ", feat("PHONE")),
        # country clause requires a truthy code AND a dictionary hit (:168-171)
        F.when(
            (feat("COUNTRY_OF_ASSOCIATION").isNotNull())
            & (feat("COUNTRY_OF_ASSOCIATION") != "")
            & F.col("_country").isNotNull(),
            F.concat(F.lit(", in "), F.col("_country")),
        ).otherwise(F.lit("")),
        clause(", website ", feat("WEBSITE")),
    )
    return df.select(
        F.col("entity_id"),
        F.lit("ORG").alias("type"),
        F.col("name"),
        description.alias("description"),
    )


def generate_aliases(alias_df: DataFrame) -> DataFrame:
    """A1/W2 — per-alias entity probability distributions
    (reference generate_aliases, senzing_pipeline.py:289-305).

    pandas ``Counter`` iterates entities in first-occurrence order
    within each alias group; we reproduce that with
    ``min(order_key)`` per (alias, entity) and a sort_array over
    (first_key, entity) structs, so arrays match element-for-element.
    Probabilities are count/total (W2), summing to 1 per alias.
    """
    keyed = alias_df.select(
        "alias",
        F.col("entity").cast("string").alias("entity"),
        F.struct("_row_ord", "branch", "pos").alias("_key"),
    )
    grp = keyed.groupBy("alias", "entity").agg(
        F.count("*").alias("cnt"), F.min("_key").alias("first_key")
    )
    w = Window.partitionBy("alias")
    grp = grp.withColumn("prob", F.col("cnt") / F.sum("cnt").over(w))
    return (
        grp.groupBy("alias")
        .agg(
            F.sort_array(F.collect_list(F.struct("first_key", "entity", "prob"))).alias("_arr")
        )
        .select(
            "alias",
            F.expr("transform(_arr, x -> x.entity)").alias("entities"),
            F.expr("transform(_arr, x -> x.prob)").alias("probabilities"),
        )
    )


def filter_suspicious(
    suspicions: DataFrame, vertices: DataFrame, edges: DataFrame
) -> DataFrame:
    """J2/G2/G3/U1 — exact-name seed match + friends-of-friends
    (reference filter_senzing, senzing_pipeline.py:373-397).

    Exact match is deliberate ("high precision + low recall", comment
    :381-383); recall is recovered by the 2-hop expansion. ``edges``
    needs only ``(src, dst)``, duplicates allowed (``related_pairs``):
    each hop takes ``distinct``. Returns one ``entity_id`` (string)
    column — ids stringified as at :397.
    """
    seeds = vertices.join(
        F.broadcast(suspicions), vertices["name"] == suspicions["value"]
    ).select(F.col("entity_uid").alias("id"))
    reach = k_hop(edges.select("src", "dst"), seeds, k=2)
    return reach.select(F.col("id").cast("string").alias("entity_id"))


def run_senzing_pipeline(
    spark: SparkSession,
    report_path: str,
    suspicious_path: str,
    countries_path: str,
    out_entities: str | None = None,
    out_aliases: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full E1 pipeline; returns (entities_df, aliases_df) lazily and
    optionally writes the two JSONL artifacts (S7/S8)."""
    raw = read_senzing_report(spark, report_path).cache()
    countries = load_countries(spark, countries_path)
    suspicions = load_text_lines(spark, suspicious_path)

    ids = filter_suspicious(suspicions, graph_tables(raw)[0], related_pairs(raw))

    feats = entity_features(raw)
    # F4: id-set semi-filter on entities (main() :414)
    feats = feats.join(ids, "entity_id", "left_semi")
    entities_df = generate_entities(feats, countries)

    aliases_raw = alias_records(raw)
    # F5: id-set semi-filter on aliases (main() :415) — the reference
    # compares str(alias.entity) against the id set
    aliases_raw = aliases_raw.join(
        ids, aliases_raw["entity"].cast("string") == ids["entity_id"], "left_semi"
    )
    aliases_df = generate_aliases(aliases_raw)

    if out_entities:
        write_jsonl(entities_df, out_entities)
    if out_aliases:
        write_jsonl(aliases_df, out_aliases)
    return entities_df, aliases_df
