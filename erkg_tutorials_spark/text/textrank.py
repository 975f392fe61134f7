"""G5/N5/A8 — TextRank phrase extraction over a documents table.

The reference registers pytextrank's ``textrank`` pipe
(/root/reference/dagster_icij/assets.py:133, tutorial.ipynb cell 19)
and consumes ``doc._.phrases`` — (text, rank, count) sorted by rank —
in /root/reference/src/analysis.py:11-16.

Deterministic Spark tier: per-document token co-occurrence graph
(sliding window, undirected → both edge directions) → PageRank with
the doc id as graph namespace (all docs in one distributed job) →
phrase rank + occurrence count (A8). Bit-for-bit pytextrank parity is
impossible without its lemma/POS pipeline (SURVEY.md §7 risks); tests
target rank-ordering invariants instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from erkg_tutorials_spark.graph.pagerank import pagerank


def cooccurrence_edges(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 2
) -> DataFrame:
    """Token pairs within ``window`` positions, both directions.

    One projection, no self-join: each (i, i+j) pair for j ≤ window is
    generated by a higher-order-function expression over the token
    array — the positional self-join alternative shuffles every token
    row and re-joins it against itself, paying |tokens| × window in
    join output for the same result this produces scan-side.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    per_offset = ", ".join(
        f"CASE WHEN size(w) > {j} THEN transform(sequence(0, size(w) - 1 - {j}),"
        f" i -> struct(w[i] as src, w[i + {j}] as dst))"
        " ELSE cast(array() as array<struct<src:string, dst:string>>) END"
        for j in range(1, window + 1)
    )
    pairs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("w"),
    ).select(
        "doc_id",
        F.explode(F.expr(f"flatten(array({per_offset}))")).alias("p"),
    ).select("doc_id", F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
    return pairs.unionByName(
        pairs.select("doc_id", F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def textrank_phrases(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    max_iter: int = 10,
) -> DataFrame:
    """(doc_id, phrase, rank, count) — single-token phrases ranked by
    per-doc PageRank; ``count`` is the in-doc occurrence count (A8)."""
    edges = cooccurrence_edges(docs, text_col, id_col, window)
    ranks = pagerank(edges, max_iter=max_iter, namespace_col="doc_id")
    counts = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("phrase"),
        )
        .groupBy("doc_id", "phrase")
        .agg(F.count("*").alias("count"))
    )
    return (
        ranks.select("doc_id", F.col("id").alias("phrase"), "rank")
        .join(counts, ["doc_id", "phrase"])
    )
