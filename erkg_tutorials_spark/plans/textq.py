"""Text-analysis + dedup query surface over the documents table
(training-data-pipeline operators: dedup, quality, lang-id, token
counting, fingerprinting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.dedup.exact import exact_dedup
from erkg_tutorials_spark.dedup.minhash import minhash_lsh_dedup
from erkg_tutorials_spark.plans.registry import register
from erkg_tutorials_spark.text.quality import (
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprints,
    language_id,
    quality_scores,
    quality_z_sql,
    token_counts,
)


@register(
    "dedup_exact",
    """
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text keeping the lowest doc id per group."""
    t = load_tables(spark, sf_dir)
    return exact_dedup(t["documents"])


# Shared by dedup_minhash_lsh (below) and dedup_clusters
# (plans/coverage.py), which consumes the same pair set. Ends with
# ``pairs(id_a, id_b, jaccard)``; every stage MATERIALIZED so the
# cluster oracle's label-propagation chain doesn't re-inline the
# shingle explosion per round.
MINHASH_PAIRS_CTE = """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]) AS shingle
      FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)
    ),
    mh AS MATERIALIZED (
      SELECT doc_id,
             min(md5(concat('0|', shingle))) AS h0, min(md5(concat('1|', shingle))) AS h1,
             min(md5(concat('2|', shingle))) AS h2, min(md5(concat('3|', shingle))) AS h3,
             min(md5(concat('4|', shingle))) AS h4, min(md5(concat('5|', shingle))) AS h5,
             min(md5(concat('6|', shingle))) AS h6, min(md5(concat('7|', shingle))) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id AS id, 0 AS band, concat(h0, h1, h2, h3) AS bkey FROM mh
      UNION ALL
      SELECT doc_id, 1, concat(h4, h5, h6, h7) FROM mh
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.id < b.id
    ),
    sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS MATERIALIZED (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS MATERIALIZED (
      SELECT i.id_a, i.id_b,
             ROUND(n_inter / (1.0 * (za.n + zb.n - n_inter)), 6) AS jaccard
      FROM inter i
      JOIN sizes za ON za.doc_id = i.id_a
      JOIN sizes zb ON zb.doc_id = i.id_b
      WHERE n_inter / (1.0 * (za.n + zb.n - n_inter)) >= 0.5
    )
"""

# Session-scoped memo (plans/memo.py, shared with graphq/vectorq): the
# MinHash pair set is consumed by both dedup_minhash_lsh and
# dedup_clusters with identical parameters — materialize the pair
# lineage (shingle explosion + signature agg + band join + exact
# jaccard) once per session instead of once per query. The pair set
# itself is tiny (∝ true near-dups); the saving is the lineage re-run.
def minhash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from erkg_tutorials_spark.plans.memo import memoized

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        return minhash_lsh_dedup(
            t["documents"], k=5, num_hashes=8, bands=2, threshold=0.5
        )

    return memoized(spark, sf_dir, "minhash_pairs", build)


@register(
    "dedup_minhash_lsh",
    MINHASH_PAIRS_CTE + "SELECT id_a, id_b, jaccard FROM pairs",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle -> 64-hash signature -> banded bucket equi-join."""
    return minhash_pairs_cached(spark, sf_dir)


@register(
    "text_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS n_distinct,
           ROUND(COUNT(DISTINCT tok) / (1.0 * COUNT(*)), 6) AS ttr,
           ROUND(SUM(CASE WHEN tok IN {STOPWORDS_EN!r} THEN 1 ELSE 0 END) / (1.0 * COUNT(*)), 6) AS stopword_ratio,
           ROUND(SUM(LENGTH(tok)) / (1.0 * COUNT(*)), 6) AS avg_token_len
    FROM toks GROUP BY doc_id
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features per doc: length, punctuation, stopword and type-token ratios."""
    t = load_tables(spark, sf_dir)
    return quality_scores(t["documents"])


@register(
    "quality_logistic_score",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    feats AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             ROUND(COUNT(DISTINCT tok) / (1.0 * COUNT(*)), 6) AS ttr,
             ROUND(SUM(CASE WHEN tok IN {STOPWORDS_EN!r} THEN 1 ELSE 0 END) / (1.0 * COUNT(*)), 6) AS stopword_ratio,
             ROUND(SUM(LENGTH(tok)) / (1.0 * COUNT(*)), 6) AS avg_token_len
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id,
           {quality_z_sql()} AS quality_z,
           ({quality_z_sql()}) >= 0.0 AS keep
    FROM feats
    """,
)
def quality_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter with frozen in-repo coefficients
    (the CCNet/fastText pattern, Wenzek et al. 2020 — public paper —
    reduced to its inference step): a linear logit over the
    ``text_quality`` features, evaluated entirely as a codegen'd SQL
    expression. The oracle repeats the identical left-to-right float
    accumulation, so the doubles match bit-for-bit (see
    ``QUALITY_LOGIT_WEIGHTS``).
    """
    from erkg_tutorials_spark.text.quality import logistic_quality

    t = load_tables(spark, sf_dir)
    return logistic_quality(t["documents"])


@register(
    "text_token_counts",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_ws_tokens,
           CAST(SUM(CAST(CEIL(LENGTH(tok) / 4.0) AS BIGINT)) AS BIGINT) AS n_subword_est
    FROM toks GROUP BY doc_id
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per doc: whitespace tokens and a BPE-ish regex token count."""
    t = load_tables(spark, sf_dir)
    return token_counts(t["documents"])


# BPE pre-tokenizer counts (the regex tier of token counting): pattern
# is RE2 ∩ Java regex so DuckDB's regexp_extract_all replays Spark's
# segmentation exactly — verified token-for-token, not just count
from erkg_tutorials_spark.text.quality import BPE_PRETOKEN_PATTERN  # noqa: E402


@register(
    "text_token_bpe",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, $${BPE_PRETOKEN_PATTERN}$$)) AS BIGINT)
             AS n_pretokens
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with in-repo trained merges, token counts per document."""
    from erkg_tutorials_spark.text.quality import bpe_pretoken_counts

    t = load_tables(spark, sf_dir)
    return bpe_pretoken_counts(t["documents"])


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprints from rolling hashes over token shingles."""
    t = load_tables(spark, sf_dir)
    return fingerprints(t["documents"])


def _lang_case() -> str:
    langs = sorted(LANG_MARKERS)
    hits = ", ".join(
        f"CAST(SUM(CASE WHEN tok IN {LANG_MARKERS[l]!r} THEN 1 ELSE 0 END) AS BIGINT) AS {l}_hits"
        for l in langs
    )
    best = f"GREATEST({', '.join(l + '_hits' for l in langs)})"
    whens = " ".join(f"WHEN {l}_hits = {best} THEN '{l}'" for l in langs)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    scored AS (SELECT doc_id, {hits} FROM toks GROUP BY doc_id)
    SELECT doc_id, {', '.join(l + '_hits' for l in langs)},
           CASE {whens} END AS pred_lang
    FROM scored
    """


@register("text_language_id", _lang_case())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: stopword-profile scores per document."""
    t = load_tables(spark, sf_dir)
    return language_id(t["documents"])


# ---------------------------------------------------------------------------
# J3/N3 — entity-ruler phrase matching with overlap dominance
# (reference generate_patterns + EntityRuler, senzing_pipeline.py:278-286,
# dev.ipynb cells 114-116)
# ---------------------------------------------------------------------------
RULER_PATTERNS = (
    ("ORG", "table scan", "e1"),
    ("ORG", "hash join", "e2"),
    ("ORG", "table scan merge", "e3"),
    ("MISC", "sort", "e4"),
    ("ORG", "sort merge", "e5"),
)


def _ruler_oracle() -> str:
    vals = ", ".join(f"('{l}', '{p}', '{i}')" for l, p, i in RULER_PATTERNS)
    grams = "\nUNION ALL\n".join(
        f"""
        SELECT doc_id, i AS start, {n} AS len,
               concat_ws(' ', {', '.join(f'w[i+{j}]' for j in range(n))}) AS gram
        FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS t{n}(i)
        """
        for n in (1, 2, 3)
    )
    return f"""
    WITH pat(label, pattern, id) AS (VALUES {vals}),
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    grams AS ({grams}),
    m AS (
      SELECT g.doc_id, g.start, g.len, g.gram, p.id AS pattern_id, p.label
      FROM grams g JOIN pat p ON g.gram = lower(p.pattern)
    )
    SELECT doc_id, CAST(start AS INT) AS start, CAST(len AS INT) AS len,
           gram AS alias, pattern_id, label
    FROM m
    WHERE NOT EXISTS (
      SELECT 1 FROM m b
      WHERE b.doc_id = m.doc_id
        AND b.start < m.start + m.len AND m.start < b.start + b.len
        AND (b.len > m.len OR (b.len = m.len AND b.start < m.start))
    )
    """


@register("phrase_ruler_match", _ruler_oracle())
def phrase_ruler_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EntityRuler-style dictionary phrase matching with dominance overlap resolution."""
    from erkg_tutorials_spark.text.phrase_match import match_phrases

    t = load_tables(spark, sf_dir)
    patterns = spark.createDataFrame(list(RULER_PATTERNS), ["label", "pattern", "id"])
    return match_phrases(t["documents"], patterns)


# ---------------------------------------------------------------------------
# SimHash fingerprints (dedup family; bit-portable hex-nibble votes)
# ---------------------------------------------------------------------------
from erkg_tutorials_spark.dedup.simhash import simhash, simhash_oracle_sql  # noqa: E402


@register("dedup_simhash", simhash_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures compared within banded buckets."""
    t = load_tables(spark, sf_dir)
    return simhash(t["documents"])


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard similarity join on a bounded id sample
# ---------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents WHERE doc_id < 200
    ),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
      FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_inter / (1.0 * (za.n + zb.n - n_inter)), 6) AS jaccard
    FROM inter JOIN sizes za ON za.doc_id = id_a JOIN sizes zb ON zb.doc_id = id_b
    WHERE n_inter / (1.0 * (za.n + zb.n - n_inter)) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise word-3-gram Jaccard over a bounded sample —
    the exact-verification baseline the LSH path approximates."""
    from erkg_tutorials_spark.dedup.minhash import shingles

    from erkg_tutorials_spark.plans.memo import memoized

    t = load_tables(spark, sf_dir)
    sample = t["documents"].where(F.col("doc_id") < 200)
    # memoized (not a bare .cache()): the table feeds both join sides
    # and the size agg, and release(spark) can evict it
    sh = memoized(
        spark, sf_dir, "jaccard_sample_shingles", lambda: shingles(sample, k=3)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")) >= 0.3
        )
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# R1 — explode + aggregate: corpus word-frequency top-50
# ---------------------------------------------------------------------------
@register(
    "r1_word_frequency",
    """
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY word)
    SELECT word, n FROM freq ORDER BY n DESC, word LIMIT 50
    """,
)
def r1_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode-based word frequency: top terms per document with counts."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021 table A1, n-gram
# family) — the dedup-adjacent quality gates a 100 TB training-data
# pipeline runs before near-dup detection. text/quality.py::
# repetition_scores; "characters covered" = occurrences × gram length
# (deterministic overlap-free approximation, identical on both engines).
# ---------------------------------------------------------------------------
@register(
    "text_repetition",
    """
    WITH base AS MATERIALIZED (
      SELECT doc_id, LENGTH(text) AS doc_len,
             string_split(lower(text), ' ') AS w
      FROM documents
    ),
    g2 AS MATERIALIZED (
      SELECT doc_id, doc_len, concat_ws(' ', w[i], w[i+1]) AS gram, COUNT(*) AS c
      FROM base CROSS JOIN unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
      GROUP BY doc_id, doc_len, gram
    ),
    top2 AS (
      SELECT doc_id, ROUND(c * LENGTH(gram) / (1.0 * doc_len), 6) AS frac_top_2gram
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        FROM g2
      ) s WHERE rn = 1
    ),
    g3 AS MATERIALIZED (
      SELECT doc_id, doc_len, concat_ws(' ', w[i], w[i+1], w[i+2]) AS gram, COUNT(*) AS c
      FROM base CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
      GROUP BY doc_id, doc_len, gram
    ),
    dup3 AS (
      SELECT doc_id, ROUND(SUM(c * LENGTH(gram)) / (1.0 * doc_len), 6) AS frac_dup_3gram
      FROM g3 WHERE c > 1 GROUP BY doc_id, doc_len
    ),
    tt AS (
      SELECT doc_id, ROUND(MAX(c) / (1.0 * SUM(c)), 6) AS top_token_ratio
      FROM (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents) u
        GROUP BY doc_id, tok
      ) s GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(top2.frac_top_2gram, 0.0) AS frac_top_2gram,
           COALESCE(dup3.frac_dup_3gram, 0.0) AS frac_dup_3gram,
           COALESCE(tt.top_token_ratio, 0.0) AS top_token_ratio
    FROM base b
    LEFT JOIN top2 ON top2.doc_id = b.doc_id
    LEFT JOIN dup3 ON dup3.doc_id = b.doc_id
    LEFT JOIN tt ON tt.doc_id = b.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics: duplicate-line and duplicate-paragraph fractions per document."""
    from erkg_tutorials_spark.text.quality import repetition_scores

    t = load_tables(spark, sf_dir)
    return repetition_scores(t["documents"])


# ---------------------------------------------------------------------------
# Search-engine ranking tier: BM25 and TF-IDF over the documents
# table. Deterministic cross-engine by construction — term counts and
# document lengths are integers; the floating-point score is one fixed
# expression tree per term (no float aggregation: the 3-term query's
# contributions are pivoted into columns and added in written order),
# rounded to 6dp.
#
# Scale notes: tf/df/dl are plain aggregations over the exploded
# token table (map-side partial combine); the per-term contribution
# join brings a 3-row broadcast to the doc stats — no shuffle beyond
# the token aggregation itself. This is the inverted-index-free
# formulation; a real 100 TB search deployment would sink df/tf into
# a term-partitioned index table, which is exactly the `bands`-style
# layout the dedup tier already demonstrates.
# ---------------------------------------------------------------------------
BM25_TERMS = ("table", "hash", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_rank",
    f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS MATERIALIZED (
      SELECT COUNT(*) AS n_docs, SUM(dl) / (1.0 * COUNT(*)) AS avgdl FROM dl
    ),
    tf AS MATERIALIZED (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('table', 'hash', 'merge') GROUP BY doc_id, tok
    ),
    df AS MATERIALIZED (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ),
    wide AS (
      SELECT dl.doc_id, dl.dl,
             MAX(CASE WHEN tf.tok = 'table' THEN tf.tf END) AS tf_table,
             MAX(CASE WHEN tf.tok = 'hash'  THEN tf.tf END) AS tf_hash,
             MAX(CASE WHEN tf.tok = 'merge' THEN tf.tf END) AS tf_merge,
             MAX(CASE WHEN tf.tok = 'table' THEN df1.df END) AS df_table,
             MAX(CASE WHEN tf.tok = 'hash'  THEN df1.df END) AS df_hash,
             MAX(CASE WHEN tf.tok = 'merge' THEN df1.df END) AS df_merge
      FROM dl JOIN tf ON tf.doc_id = dl.doc_id
      JOIN df df1 ON df1.tok = tf.tok
      GROUP BY dl.doc_id, dl.dl
    )
    SELECT doc_id,
           ROUND(
             COALESCE(ln((s.n_docs - df_table + 0.5) / (df_table + 0.5) + 1)
               * tf_table * ({_BM25_K1} + 1)
               / (tf_table + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / s.avgdl)), 0.0)
           + COALESCE(ln((s.n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1)
               * tf_hash * ({_BM25_K1} + 1)
               / (tf_hash + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / s.avgdl)), 0.0)
           + COALESCE(ln((s.n_docs - df_merge + 0.5) / (df_merge + 0.5) + 1)
               * tf_merge * ({_BM25_K1} + 1)
               / (tf_merge + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl / s.avgdl)), 0.0),
           6) AS score
    FROM wide, stats s
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the fixed 3-term query, BM25(k1=1.2, b=0.75)."""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") / (1.0 * F.count("*"))).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    wide = (
        dl.join(tf, "doc_id")
        .join(F.broadcast(df), "tok")
        .groupBy("doc_id", "dl")
        .agg(
            *[
                F.max(F.when(F.col("tok") == t, F.col("tf"))).alias(f"tf_{t}")
                for t in BM25_TERMS
            ],
            *[
                F.max(F.when(F.col("tok") == t, F.col("df"))).alias(f"df_{t}")
                for t in BM25_TERMS
            ],
        )
    )
    k1, b = _BM25_K1, _BM25_B
    contribs = [
        F.coalesce(
            F.log((F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5) + 1)
            * F.col(f"tf_{t}") * (k1 + 1)
            / (F.col(f"tf_{t}") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
            F.lit(0.0),
        )
        for t in BM25_TERMS
    ]
    score = F.round(contribs[0] + contribs[1] + contribs[2], 6)
    return (
        wide.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms: each document's 3 highest-weighted terms
# (tf * ln(N/df)), ties broken lexicographically. Integer tf/df, one
# ln + one multiply per (doc, term) — deterministic at 6dp.
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    tf AS MATERIALIZED (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ),
    df AS MATERIALIZED (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(tf.tf * ln((1.0 * n_docs) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok, n
    ),
    ranked AS (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok ASC) AS rk
      FROM scored
    )
    SELECT doc_id, tok, tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top terms per document from a single (term, doc) shuffle."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((1.0 * F.col("n_docs")) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "tok", "tfidf", "rk")
    )


# ---------------------------------------------------------------------------
# Sub-document exact dedup (chunk granularity): the RefinedWeb/C4-style
# repeated-passage pass — documents are split into fixed 20-word
# chunks, a chunk repeated across ≥2 documents is "duplicated text",
# and each doc reports its duplicated-chunk ratio (the filter signal a
# curation pipeline thresholds on).
#
# Scale notes (100 TB): chunking + hashing is embarrassingly parallel;
# the only shuffle is the chunk-hash groupBy whose fan-in is bounded by
# true repetition (unique chunks aggregate to count 1 map-side). No
# pairwise work at all — this is the cheap first tier before MinHash.
# ---------------------------------------------------------------------------
@register(
    "dedup_chunk_exact",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             md5(array_to_string(w[(i * 20 + 1):(i * 20 + 20)], ' ')) AS chunk_hash
      FROM w, UNNEST(generate_series(0, CAST(len(w) // 20 AS INT) - 1)) AS t(i)
      WHERE len(w) >= 20
    ),
    shared AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk_hash
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS dup_ratio
    FROM chunks JOIN shared USING (chunk_hash)
    GROUP BY doc_id
    """,
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: repeated fixed-size text chunks across documents."""
    t = load_tables(spark, sf_dir)
    # DuckDB list slicing w[a:b] clamps to list end; Spark's
    # slice(w, start, 20) would pad nothing but produce a SHORT last
    # chunk — both engines drop partial chunks via the i-range bound,
    # so only full 20-word windows are hashed.
    chunks = (
        t["documents"]
        .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        .where(F.size("w") >= 20)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int(size(w) / 20) - 1),"
                    " i -> md5(array_join(slice(w, i * 20 + 1, 20), ' ')))"
                )
            ).alias("chunk_idx", "chunk_hash"),
        )
    )
    shared = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        chunks.join(shared, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(dup).alias("n_dup_chunks"),
            F.round(F.sum(dup) / F.count("*"), 6).alias("dup_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-rarity quality score: the exact-arithmetic surrogate for
# unigram-LM perplexity filtering. Words are ranked by global corpus
# frequency (dense_rank over count DESC, word ASC — a total integer
# order, no log() cross-engine ulp risk); a document's score is its
# mean word rank (integer sum ÷ integer count, one division). High
# mean rank = rare vocabulary = the same tail a perplexity filter
# trims. n_hapax counts corpus-hapax occurrences per doc.
#
# Scale notes: the vocabulary table is tiny relative to the corpus
# (heavy-tail dedup) → broadcast join back onto occurrences; the
# per-doc agg shuffles on doc_id once.
# ---------------------------------------------------------------------------
@register(
    "text_rarity_score",
    """
    WITH occ AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ),
    vocab AS (
      SELECT word, COUNT(*) AS n,
             CAST(dense_rank() OVER (ORDER BY COUNT(*) DESC, word ASC) AS BIGINT)
               AS rnk
      FROM occ GROUP BY word
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           ROUND(SUM(rnk) * 1.0 / COUNT(*), 6) AS mean_rank,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
    FROM occ JOIN vocab USING (word)
    GROUP BY doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document rarity score: mean inverse document frequency of its terms."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    occ = t["documents"].select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    vocab = (
        occ.groupBy("word")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rnk",
            F.dense_rank()
            .over(Window.orderBy(F.desc("n"), F.asc("word")))
            .cast("long"),
        )
    )
    return (
        occ.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(F.sum("rnk") / F.count("*"), 6).alias("mean_rank"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
    )


# ---------------------------------------------------------------------------
# Containment near-dup (doc-inside-doc): C(A->B) = |A∩B| / |A| over
# word-3-gram shingle sets — the asymmetric complement of Jaccard
# that catches a short document embedded in a longer one (Jaccard is
# diluted by the length gap; containment is not). Full corpus, no
# sample bound: the posting-list self-join carries one row per
# (shared shingle, doc pair) and partial-aggregates to pair counts —
# the inverted-index pattern, linear in Σ df(shingle)² only across
# genuinely shared shingles.
# ---------------------------------------------------------------------------
CONTAINMENT_TAU = 0.8


@register(
    "dedup_containment",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
      FROM toks CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    both_dirs AS (
      SELECT id_a AS src_id, id_b AS dst_id, n_inter FROM inter
      UNION ALL
      SELECT id_b, id_a, n_inter FROM inter
    )
    SELECT b.src_id, b.dst_id,
           ROUND(b.n_inter * 1.0 / s.n, 6) AS containment
    FROM both_dirs b JOIN sizes s ON s.doc_id = b.src_id
    WHERE b.n_inter * 1.0 / s.n >= {CONTAINMENT_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents whose shingle set is >= {tau} contained in another's.

    One intersection count per unordered pair (a < b), emitted in
    both directions and normalized by each source's own set size —
    the direction with the smaller set flags the embedded document.
    """
    from erkg_tutorials_spark.dedup.minhash import shingles
    from erkg_tutorials_spark.plans.memo import memoized_sized

    t = load_tables(spark, sf_dir)
    # memoized (not a bare .cache(), which would pin executor storage
    # with no eviction path): the shingle table feeds both join sides
    # and the size agg, and repeated invocations reuse one build. At
    # 100 TB this becomes a materialized shingle table on disk.
    sh = memoized_sized(
        spark, sf_dir, "containment_doc_shingles",
        lambda: shingles(t["documents"], k=3),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    both = inter.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("dst_id"), "n_inter"
    ).unionAll(
        inter.select(
            F.col("id_b").alias("src_id"), F.col("id_a").alias("dst_id"), "n_inter"
        )
    )
    return (
        both.join(
            F.broadcast(sizes.withColumnRenamed("doc_id", "src_id")), "src_id"
        )
        .where(F.col("n_inter") / F.col("n") >= CONTAINMENT_TAU)
        .select(
            "src_id",
            "dst_id",
            F.round(F.col("n_inter") / F.col("n"), 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Two-pass exact heavy hitters: Misra–Gries candidate generation in
# bounded memory (one Arrow mapInPandas pass keeping at most K
# counters per partition — analytics.misra_gries_candidates) followed
# by an EXACT count of the candidate set only. The classic 100 TB
# pattern for "which tokens exceed a frequency share" when token
# cardinality dwarfs executor memory: MG(K) on a partition retains
# every item whose partition frequency exceeds n_p/(K+1), and any global heavy hitter (freq > n/K) must clear
# that bar in at least one partition (averaging argument), so the
# candidate union is a SUPERSET of the true hitters no matter how
# rows are partitioned. The second pass semi-joins the candidate set
# (broadcast, ≤ K × partitions rows) before the exact groupBy, so the
# expensive count touches only candidate keys. The final exact filter
# makes the output independent of partitioning — fully oracled.
#
# Misra & Gries 1982, "Finding repeated elements" (public paper).
# ---------------------------------------------------------------------------
HH_K = 500  # report tokens with count * HH_K > total token count


def _heavy_hitters_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    nz AS (SELECT tok FROM toks WHERE tok <> ''),
    tot AS (SELECT COUNT(*) AS n FROM nz)
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           ROUND(COUNT(*) / (1.0 * tot.n), 6) AS share
    FROM nz, tot
    GROUP BY tok, tot.n
    HAVING COUNT(*) * {HH_K} > tot.n
    """


@register("heavy_hitters_tokens", _heavy_hitters_oracle())
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens via bounded-memory Misra-Gries candidates plus an exact verification count of the candidate set."""
    from erkg_tutorials_spark.plans.analytics import misra_gries_candidates

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")

    def mg_candidates(batches):
        yield from misra_gries_candidates(batches, "tok", HH_K)

    cand = toks.mapInPandas(mg_candidates, "tok string").distinct()
    total = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(cand), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_tok") * HH_K > F.col("n"))
        .select(
            "tok",
            "n_tok",
            F.round(F.col("n_tok") / (1.0 * F.col("n")), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease readability (Flesch 1948 — the standard
# documented formula: 206.835 − 1.015·(words/sentences) −
# 84.6·(syllables/words)), with the classic vowel-group syllable
# heuristic. All three counts are exact integers from one scan-side
# projection (regexp_extract_all / split — no Python); the score is a
# fixed 5-op float expression over those integers, identical
# left-to-right in both engines, rounded once at the end.
# ---------------------------------------------------------------------------
@register(
    "text_readability",
    """
    WITH counts AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_words,
             CAST(GREATEST(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT) AS n_sents,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           ROUND(206.835 - 1.015 * (n_words / (1.0 * n_sents))
                         - 84.6 * (n_syll / (1.0 * n_words)), 4) AS flesch
    FROM counts WHERE n_words > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from exact integer word/sentence/vowel-group counts, scan-side only."""
    docs = load_tables(spark, sf_dir)["documents"]
    n_words = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda t: t != "")
    ).cast("long")
    n_sents = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")), F.lit(1)
    ).cast("long")
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    counts = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / (1.0 * F.col("n_sents")))
        - F.lit(84.6) * (F.col("n_syll") / (1.0 * F.col("n_words"))),
        4,
    )
    return counts.where(F.col("n_words") > 0).withColumn("flesch", flesch)


# ---------------------------------------------------------------------------
# Domain-mixture divergence: how far each source domain's unigram
# distribution sits from the whole corpus — the diagnostic a data-
# mixing pipeline (DoReMi / DSIR-style domain weighting, public
# papers) reads before reweighting sources. The metric is the χ²
# divergence Σ_w (p_w − q_w)²/q_w (p = domain, q = corpus), which —
# unlike KL — needs no logarithm, so it stays in exact integers:
# probabilities are ppm-rounded BIGINTs (the repo's standard
# ROUND(x·10⁶/N) device) and each term is integer division by the
# q_ppm floor. Tokens the domain never emits contribute q_w exactly,
# folded in WITHOUT materializing a vocab×domain grid:
#   χ²(d) = Σ_{w∈d} (p−q)²//max(q,1) + (Q_tot − Σ_{w∈d} q).
#
# Scale: token-keyed groupBys (map-side combinable) + one broadcast
# of the per-domain totals; the corpus vocab table joins the domain
# counts on the token key — no cross product anywhere.
# ---------------------------------------------------------------------------


@register(
    "corpus_domain_divergence",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    corpus AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
    ),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM corpus),
    vocab AS (
      SELECT w, c,
             CAST(ROUND(c * 1000000.0 / nn.n, 0) AS BIGINT) AS q_ppm
      FROM corpus CROSS JOIN nn
    ),
    qtot AS (SELECT CAST(SUM(q_ppm) AS BIGINT) AS q_total FROM vocab),
    dom AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cd
      FROM toks GROUP BY source, w
    ),
    dn AS (
      SELECT source, CAST(SUM(cd) AS BIGINT) AS nd FROM dom GROUP BY source
    ),
    terms AS (
      SELECT d.source,
             CAST(ROUND(d.cd * 1000000.0 / dn.nd, 0) AS BIGINT) AS p_ppm,
             v.q_ppm
      FROM dom d JOIN dn USING (source) JOIN vocab v ON v.w = d.w
    ),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS vocab_overlap,
             CAST(SUM((p_ppm - q_ppm) * (p_ppm - q_ppm)
                      // GREATEST(q_ppm, 1)) AS BIGINT) AS chi2_present,
             CAST(SUM(q_ppm) AS BIGINT) AS q_present
      FROM terms GROUP BY source
    )
    SELECT a.source, dn.nd AS n_tokens, a.vocab_overlap,
           a.chi2_present + (q.q_total - a.q_present) AS chi2_scaled_ppm
    FROM agg a JOIN dn ON dn.source = a.source CROSS JOIN qtot q
    """,
)
def corpus_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared unigram divergence of each source domain vs the whole corpus (exact ppm integers; absent-token mass folded in without a vocab grid)."""
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    corpus = toks.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    nn = corpus.agg(F.sum("c").cast("long").alias("n"))
    vocab = corpus.crossJoin(F.broadcast(nn)).select(
        "w",
        F.round(F.col("c") * 1000000.0 / F.col("n"), 0)
        .cast("long")
        .alias("q_ppm"),
    )
    qtot = vocab.agg(F.sum("q_ppm").cast("long").alias("q_total"))
    dom = toks.groupBy("source", "w").agg(
        F.count("*").cast("long").alias("cd")
    )
    dn = dom.groupBy("source").agg(F.sum("cd").cast("long").alias("nd"))
    terms = (
        dom.join(F.broadcast(dn), "source")
        .join(vocab, "w")
        .select(
            "source",
            F.round(F.col("cd") * 1000000.0 / F.col("nd"), 0)
            .cast("long")
            .alias("p_ppm"),
            "q_ppm",
        )
    )
    diff = F.col("p_ppm") - F.col("q_ppm")
    agg = terms.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab_overlap"),
        F.sum(
            (diff * diff / F.greatest(F.col("q_ppm"), F.lit(1)))
            .cast("long")
        ).cast("long").alias("chi2_present"),
        F.sum("q_ppm").cast("long").alias("q_present"),
    )
    return (
        agg.join(F.broadcast(dn), "source")
        .crossJoin(F.broadcast(qtot))
        .select(
            "source",
            F.col("nd").alias("n_tokens"),
            "vocab_overlap",
            (
                F.col("chi2_present")
                + (F.col("q_total") - F.col("q_present"))
            ).alias("chi2_scaled_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-split near-duplicate leakage — the contamination audit a
# training pipeline runs AFTER splitting: a test/val document that is
# a near-duplicate of a train document inflates eval scores (Lee et
# al. 2021, "Deduplicating Training Data Makes Language Models
# Better", public paper). Pure composition of two memoized artifacts:
# the MinHash-LSH near-dup pair table (dedup_minhash_lsh) and the
# deterministic md5 split coins (split_assign, coverage.py) — pairs
# whose endpoints land in different splits ARE the leakage, reported
# pair-level with both split labels so the worst offenders (highest
# jaccard) sort to the top of any triage.
#
# Scale: the pair table is the already-LSH-pruned near-dup set (not
# the corpus square) and the split label is scan-side hash
# arithmetic — two broadcast-size hash joins of pair endpoints
# against (doc_id, split). The exact-dedup complement
# (split_leakage_audit) catches byte-identical leakage; this one
# catches the paraphrase-distance tail.
# ---------------------------------------------------------------------------


def _split_bucket_cte() -> str:
    """(doc_id, split) CTE — same md5-nibble coins as split_assign's
    oracle (coverage._split_oracle), shared so the two can't drift."""
    from erkg_tutorials_spark.plans.coverage import _NIB

    expr = (
        f"((({_NIB.format(p=13)}) * 16 + ({_NIB.format(p=14)})) * 16"
        f" + ({_NIB.format(p=15)})) * 16 + ({_NIB.format(p=16)})"
    )
    return f"""
    hsplit AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN ({expr}) % 100 < 80 THEN 'train'
                  WHEN ({expr}) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM hsplit
    )"""


@register(
    "split_neardup_leakage",
    MINHASH_PAIRS_CTE
    + ","
    + _split_bucket_cte()
    + """
    SELECT p.id_a, p.id_b, p.jaccard,
           sa.split AS split_a, sb.split AS split_b
    FROM pairs p
    JOIN splits sa ON sa.doc_id = p.id_a
    JOIN splits sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    """,
)
def split_neardup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate contamination: MinHash-LSH near-dup pairs whose endpoints fall in different train/val/test splits."""
    pairs = minhash_pairs_cached(spark, sf_dir)

    def split_of(idc):
        # pure hash arithmetic on the pair endpoints — no join with a
        # per-document table (a |docs|-row side is not broadcastable
        # at 100 TB, and the coins need only the id)
        bucket = (
            F.conv(
                F.substring(F.md5(idc.cast("string")), 13, 4), 16, 10
            ).cast("long")
            % 100
        )
        return (
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
        )

    return (
        pairs.select(
            "id_a",
            "id_b",
            "jaccard",
            split_of(F.col("id_a")).alias("split_a"),
            split_of(F.col("id_b")).alias("split_b"),
        )
        .where(F.col("split_a") != F.col("split_b"))
    )
