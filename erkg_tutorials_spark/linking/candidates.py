"""V2 — fuzzy alias candidate retrieval (ANN over alias strings).

Reference behavior (``kb.get_alias_candidates``, dev.ipynb cell 82):
a mention like "machine learn" retrieves the alias "machine learning"
— fuzzy string match, ranked by distance. LanceDB does this with a
vector index; the Spark-native equivalent is a character-n-gram
Jaccard similarity join, LSH-pruned so it never goes O(mentions ×
aliases) (SURVEY.md §2.10 V2 mapping).

Invariant (tested): an exact string match is always among its own
candidates (char-n-gram Jaccard 1.0 collides in every band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _grams(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gram) for every character n-gram of the lowercased, trimmed
    string (padded with boundary marks so short strings still
    shingle); a gram repeats as often as it occurs."""
    padded = F.concat(F.lit("^"), F.lower(F.trim(F.col(text_col))), F.lit("$"))
    grams = F.expr(
        f"transform(sequence(1, greatest(length(_padded) - {n} + 1, 1)), i -> substring(_padded, i, {n}))"
    )
    return (
        df.withColumn("_padded", padded)
        .select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .where(F.length("gram") > 0)
    )


def char_ngrams(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct character n-grams per id (see :func:`_grams`)."""
    return _grams(df, text_col, id_col, n).distinct()


def alias_candidates(
    mentions: DataFrame,
    aliases: DataFrame,
    mention_text: str = "text",
    mention_id: str = "mention_id",
    alias_text: str = "alias",
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.4,
    n: int = 3,
) -> DataFrame:
    """(mention_id, alias, jaccard) candidate pairs.

    MinHash over char n-grams, banded LSH join (r = num_hashes/bands
    rows per band — r=2 keeps recall high for the short-string
    regime), then exact Jaccard verification of candidates only.

    Each side is one aggregate per id: its min-hashes plus its gram
    set, so the Jaccard of a candidate pair is computed from the two
    sets it carries and each side is read once (no cache, no gram
    joins). The aggregate dedups grams and alias strings itself.
    """
    r = num_hashes // bands

    def side(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        sig = (
            _grams(df, text_col, id_col, n)
            .groupBy("id")
            .agg(
                F.collect_set("gram").alias("grams"),
                *[
                    F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("gram")))).alias(f"h{i}")
                    for i in range(num_hashes)
                ],
            )
        )
        band_keys = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat(*[F.col(f"h{b * r + j}") for j in range(r)]).alias("bkey"),
                )
                for b in range(bands)
            ]
        )
        return sig.select("id", "grams", F.inline(band_keys))

    m = side(mentions, mention_text, mention_id).alias("m")
    a = side(aliases, alias_text, alias_text).alias("a")
    n_inter = F.size(F.array_intersect("m.grams", "a.grams"))
    jaccard = n_inter / (F.size("m.grams") + F.size("a.grams") - n_inter)
    return (
        m.join(a, ["band", "bkey"])
        .select(
            F.col("m.id").alias(mention_id),
            F.col("a.id").alias(alias_text),
            jaccard.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .distinct()
    )
