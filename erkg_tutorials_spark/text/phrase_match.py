"""J3/N3 — dictionary phrase matching (the reference's EntityRuler).

The reference feeds alias patterns ``{label, pattern, id}``
(generate_patterns, /root/reference/src/senzing_pipeline.py:278-286)
into spaCy's EntityRuler (dev.ipynb cells 114-116) which matches token
sequences and resolves overlaps longest-match-first (spaCy
``filter_spans``: sort by (-length, start), keep non-overlapping).

Two tiers:

- :func:`match_phrases` — pure DataFrame: tokenize → n-grams →
  broadcast-join the pattern dictionary → overlap resolution by a
  *dominance* rule (drop a match iff an overlapping match is longer,
  or equal-length and further left). Fully SQL-expressible (DuckDB
  oracle), scales as a map-side join: the dictionary broadcasts, the
  n-gram explosion is linear in corpus size × max pattern length.

- :func:`match_phrases_spacy_order` — exact ``filter_spans`` greedy
  semantics via ``applyInPandas`` per doc (chains of dominated spans
  can differ from the dominance rule; this tier is bit-faithful).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


def _ngram_matches(docs: DataFrame, patterns: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """All (doc, start, len, alias, pattern-id, label) raw hits.

    One scan: every (start, len) gram for len 1..max pattern length is
    generated in a single nested higher-order-function projection
    (``flatten(transform(...))``) instead of one unioned scan per
    length — the explosion stays inside one whole-stage-codegen span
    and the source is read once. The max pattern length joins in as a
    broadcast one-row aggregate, so building the plan runs no job.
    """
    max_len = patterns.agg(F.max(F.size(F.split(F.col("pattern"), " "))).alias("_n"))
    # single-row-group parquet arrives as one partition; spread the
    # CPU-heavy gram explosion across cores (same pattern as
    # dedup/minhash.py — the tiny doc-id shuffle is far cheaper than a
    # single-threaded explosion; at real scale file splits already
    # provide this parallelism and the repartition is a cheap rebalance)
    toks = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, id_col
    ).select(
        F.col(id_col).alias("doc_id"), F.split(F.lower(F.col(text_col)), " ").alias("w")
    ).crossJoin(F.broadcast(max_len))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, least(size(w), "
                "coalesce(_n, 1))), n -> transform(sequence(1, size(w) - n + 1), "
                "i -> struct(i as start, n as len, array_join(slice(w, i, n), ' ') as gram))))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.start").alias("start"),
        F.col("g.len").alias("len"),
        F.col("g.gram").alias("gram"),
    )
    pat = patterns.select(
        F.lower(F.col("pattern")).alias("gram"),
        F.col("id").alias("pattern_id"),
        F.col("label"),
    )
    return grams.join(F.broadcast(pat), "gram")


def match_phrases(
    docs: DataFrame,
    patterns: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dictionary matches with dominance overlap resolution.

    ``patterns``: (label, pattern, id). Returns (doc_id, start, len,
    alias, pattern_id, label) with start 1-based token position.
    """
    # The hit set is tiny relative to the corpus (dictionary join is
    # selective) — cache it so the dominance self-join reads it twice
    # without re-running the n-gram explosion; resolve dominance with a
    # single left_anti join (keep a iff no overlapping b dominates it)
    # instead of left_semi + exceptAll (one join, no distinct shuffle).
    m = _ngram_matches(docs, patterns, text_col, id_col).cache()
    a = m.alias("a")
    b = m.alias("b")
    overlap = (F.col("b.start") < F.col("a.start") + F.col("a.len")) & (
        F.col("a.start") < F.col("b.start") + F.col("b.len")
    )
    dominates = (F.col("b.len") > F.col("a.len")) | (
        (F.col("b.len") == F.col("a.len")) & (F.col("b.start") < F.col("a.start"))
    )
    return a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id")) & overlap & dominates,
        "left_anti",
    ).select(
        "doc_id", "start", "len", F.col("gram").alias("alias"), "pattern_id", "label"
    )


_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("start", LongType()),
        StructField("len", LongType()),
        StructField("alias", StringType()),
        StructField("pattern_id", StringType()),
        StructField("label", StringType()),
    ]
)


def match_phrases_spacy_order(
    docs: DataFrame,
    patterns: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact spaCy ``filter_spans`` greedy resolution, grouped per doc.

    applyInPandas keeps the per-doc state local to one partition task;
    the shuffle key is doc_id so this scales with corpus size.
    """
    m = _ngram_matches(docs, patterns, text_col, id_col)

    def resolve(pdf):
        import pandas as pd

        out = []
        for doc_id, g in pdf.groupby("doc_id"):
            spans = sorted(
                g.itertuples(index=False), key=lambda s: (-s.len, s.start)
            )
            taken: list[tuple[int, int]] = []
            for s in spans:
                lo, hi = s.start, s.start + s.len
                if all(hi <= a or lo >= b for a, b in taken):
                    taken.append((lo, hi))
                    out.append(
                        (doc_id, s.start, s.len, s.gram, s.pattern_id, s.label)
                    )
        return pd.DataFrame(
            out, columns=["doc_id", "start", "len", "alias", "pattern_id", "label"]
        )

    return m.groupBy("doc_id").applyInPandas(resolve, _SPAN_SCHEMA)
