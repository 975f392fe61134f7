"""LLM-training-data operators, batch 2: positional inverted index,
bigram language-model statistics, and SemDeDup-style semantic
deduplication.

- ``inverted_index_postings`` builds the classic search-index
  artifact (term → sorted position postings per document, plus
  document frequency) with one explode and one groupBy — the shape a
  100 TB corpus indexer shards by term.
- ``text_bigram_lm`` computes exact bigram conditional probabilities
  (the counting core of perplexity-based quality filtering): all
  integer counts, one final rounded division per row.
- ``dedup_semantic`` is the SemDeDup pattern (Abbas et al. 2023,
  arXiv:2303.09540): cluster embeddings with k-means, then mark
  near-duplicates ONLY within each cluster — pairwise work is bounded
  by cluster size, never corpus². The k-means centroids are the same
  deterministically-trained, session-memoized set the IVF index uses
  (plans/vectorq.py), so the full DuckDB oracle replays training,
  assignment, and intra-cluster scoring bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.registry import register


# Shared token-position CTE: 1-based positions in both engines
# (DuckDB lists are 1-based; Spark's posexplode is 0-based, so the
# Spark side adds 1).
_POS_CTE = """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    pos AS MATERIALIZED (
      SELECT doc_id, w[i] AS term, CAST(i AS BIGINT) AS i
      FROM toks CROSS JOIN unnest(generate_series(1, len(w))) AS t(i)
    )
"""


def _positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).cast("long").alias("i"))


@register(
    "inverted_index_postings",
    _POS_CTE
    + """,
    g AS (
      SELECT term, doc_id, COUNT(*) AS tf,
             array_to_string(list_sort(list(i)), ' ') AS positions
      FROM pos GROUP BY 1, 2
    )
    SELECT term, doc_id, tf, positions,
           COUNT(*) OVER (PARTITION BY term) AS df
    FROM g
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index: one row per (term, document) with
    the sorted in-document positions (space-joined — flat scalar
    output so any downstream canonicalizer can sort rows) and the
    term's document frequency. Single shuffle keyed by (term, doc_id);
    the df window re-uses the same term partitioning (no extra
    exchange beyond the window sort)."""
    g = (
        _positions(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(
            F.count("*").alias("tf"),
            F.array_join(
                F.sort_array(F.collect_list("i")), " "
            ).alias("positions"),
        )
    )
    return g.withColumn("df", F.count("*").over(Window.partitionBy("term")))


@register(
    "text_bigram_lm",
    _POS_CTE
    + """,
    bi AS (
      SELECT doc_id, term AS w1,
             LEAD(term) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM pos
    ),
    c AS (
      SELECT w1, w2, COUNT(*) AS c_bigram
      FROM bi WHERE w2 IS NOT NULL GROUP BY 1, 2
    )
    SELECT w1, w2, c_bigram,
           CAST(SUM(c_bigram) OVER (PARTITION BY w1) AS BIGINT) AS c_left,
           ROUND(c_bigram * 1.0 / SUM(c_bigram) OVER (PARTITION BY w1), 6) AS p_cond
    FROM c
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram conditional probabilities P(w2 | w1).

    All counting is integer (associative, order-independent); the
    single division happens once per output row on already-final
    integers, so both engines produce the identical rounded double.
    Output is vocab² -bounded — tiny relative to the corpus — and the
    plan is explode → count → one window over the (small) count table.
    """
    pos = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    bi = pos.select(
        F.col("term").alias("w1"), F.lead("term").over(w).alias("w2")
    ).where(F.col("w2").isNotNull())
    c = bi.groupBy("w1", "w2").agg(F.count("*").alias("c_bigram"))
    wleft = Window.partitionBy("w1")
    return c.select(
        "w1",
        "w2",
        "c_bigram",
        F.sum("c_bigram").over(wleft).alias("c_left"),
        F.round(F.col("c_bigram") / F.sum("c_bigram").over(wleft), 6).alias("p_cond"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: k-means cluster → intra-cluster near-dup flags.
# ---------------------------------------------------------------------------
SEMDEDUP_TAU = 0.25


def _semdedup_oracle() -> str:
    from erkg_tutorials_spark.plans.vectorq import _kmeans_cent_cte

    return (
        _kmeans_cent_cte()
        + f"""
    assign_scored AS (
      SELECT v.vec_id, c.cent_id,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY ROUND(list_dot_product(v.emb, c.cvec)
               / (sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(c.cvec, c.cvec))), 6) DESC, c.cent_id) AS rn
      FROM v CROSS JOIN cent c
    ),
    assigned AS MATERIALIZED (
      SELECT a.vec_id, a.cent_id AS cell, v.emb
      FROM assign_scored a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6) >= {SEMDEDUP_TAU}
    )
    SELECT s.vec_id, CAST(s.cell AS BIGINT) AS cell,
           d.vec_id IS NOT NULL AS is_dup
    FROM assigned s LEFT JOIN dups d ON d.vec_id = s.vec_id
    """
    )


@register("dedup_semantic", _semdedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: a vector is a duplicate iff some
    LOWER-id vector in its k-means cluster has cosine ≥ τ (so the
    min-id member of every near-dup group survives).

    Scale shape: centroids broadcast (k rows); assignment is one
    map-side pass; the only self-join is keyed by cluster cell, so
    pairwise work is Σ cell², bounded by the clustering — the whole
    point of SemDeDup vs all-pairs. Reuses the session-memoized IVF
    centroids (vectorq.ivf_centroids_cached), whose deterministic
    hash-seeded Lloyd training the oracle replays exactly.
    """
    from erkg_tutorials_spark.plans.vectorq import ivf_centroids_cached
    from erkg_tutorials_spark.similarity.knn import _as_double, _dot

    emb = load_tables(spark, sf_dir)["embeddings"]
    v = emb.select("vec_id", _as_double("embedding").alias("emb"))
    cent = ivf_centroids_cached(spark, sf_dir).select(
        "cent_id", F.col("cvec").alias("cvec")
    )
    scored = v.crossJoin(F.broadcast(cent)).withColumn(
        "cos",
        F.round(
            _dot("emb", "cvec")
            / (F.sqrt(_dot("emb", "emb")) * F.sqrt(_dot("cvec", "cvec"))),
            6,
        ),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cent_id"))
    # norms precomputed ONCE per vector here: the intra-cell pair scan
    # below touches each vector ~|cell| times and must not redo the
    # O(d) self-dot per pair (the knn modules' standard trick)
    assigned = (
        scored.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").cast("long").alias("cell"), "emb")
        .withColumn("vn", F.sqrt(_dot("emb", "emb")))
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("cell"),
        F.col("emb").alias("ea"),
        F.col("vn").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("cell"),
        F.col("emb").alias("eb"),
        F.col("vn").alias("nb"),
    )
    dups = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 6),
        )
        .where(F.col("cos") >= SEMDEDUP_TAU)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return assigned.join(dups, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (text/bpe.py). The merge loop is fully
# declarative (runs + parity windows make greedy-left merging
# expressible), so the oracle replays training — pair counting,
# lexicographic tie-breaks, run-parity merging — bit-for-bit.
# ---------------------------------------------------------------------------
BPE_MERGES = 8


def _bpe_oracle() -> str:
    from erkg_tutorials_spark.text.bpe import bpe_iterations_sql

    return (
        """
    WITH words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
      ) WHERE len(word) > 0 GROUP BY 1
    ),"""
        + bpe_iterations_sql(n_merges=BPE_MERGES)
        + """
    SELECT step, left_sym, right_sym, pair_count FROM merges
    """
    )


@register("bpe_train_merges", _bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first BPE merges in-engine.

    The corpus is touched once (word-frequency pass); the training
    state is the distinct-word symbol table weighted by frequency —
    corpus-size-independent, the property that makes distributed BPE
    training viable at 100 TB. Every round is one exact-integer pair
    count, a 1-row broadcast of the argmax pair, and one window pass.
    """
    from erkg_tutorials_spark.text.bpe import bpe_train, word_freqs

    docs = load_tables(spark, sf_dir)["documents"]
    merges, _ = bpe_train(word_freqs(docs), n_merges=BPE_MERGES)
    return merges


# ---------------------------------------------------------------------------
# BPE encode-side stats (r10): tokenizer FERTILITY — the
# tokens-per-word and chars-per-token ratios per source after the
# learned merges are applied. The apply side of bpe_train_merges:
# a training-data pipeline budgets token counts (and catches
# vocabulary-hostile sources — code, non-Latin scripts, boilerplate)
# from exactly this table before shard building.
#
# The encode itself costs nothing beyond training here: the final
# training state IS the corpus vocabulary's symbolization, so
# per-word token counts are a COUNT over it, and the corpus pass is
# one explode + (source, word) groupBy joined against the
# |vocabulary|-row counts table. At 100 TB the vocab join is the
# standard dim join (broadcast when it fits, AQE shuffle otherwise);
# the corpus is touched once. All ratios are exact integer `div`
# x1000 — no float anywhere.
# ---------------------------------------------------------------------------
def _bpe_fertility_oracle() -> str:
    from erkg_tutorials_spark.text.bpe import bpe_iterations_sql

    return (
        """
    WITH words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
      ) WHERE len(word) > 0 GROUP BY 1
    ),"""
        + bpe_iterations_sql(n_merges=BPE_MERGES)
        + f""",
    nsyms AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_syms
      FROM s{BPE_MERGES} GROUP BY word
    ),
    docw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS occ FROM (
        SELECT source, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) WHERE len(word) > 0 GROUP BY 1, 2
    ),
    agg AS (
      SELECT d.source,
             CAST(SUM(d.occ) AS BIGINT) AS words,
             CAST(SUM(d.occ * n.n_syms) AS BIGINT) AS bpe_tokens,
             CAST(SUM(d.occ * len(d.word)) AS BIGINT) AS chars
      FROM docw d JOIN nsyms n USING (word) GROUP BY 1
    ),
    nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT a.source, nd.n_docs, a.words, a.bpe_tokens, a.chars,
           (a.bpe_tokens * 1000) // a.words AS fertility_x1000,
           (a.chars * 1000) // a.bpe_tokens AS chars_per_token_x1000
    FROM agg a JOIN nd USING (source)
    """
    )


@register("bpe_encode_fertility", _bpe_fertility_oracle())
def bpe_encode_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility under the corpus's own learned BPE merges: words, BPE tokens, chars, and the x1000 integer ratios."""
    from erkg_tutorials_spark.plans.memo import memoized
    from erkg_tutorials_spark.text.bpe import bpe_train, word_freqs

    docs = load_tables(spark, sf_dir)["documents"]
    state = memoized(
        spark,
        sf_dir,
        "bpe_final_state",
        lambda: bpe_train(word_freqs(docs), n_merges=BPE_MERGES)[1],
    )
    nsyms = state.groupBy("word").agg(
        F.count("*").cast("long").alias("n_syms")
    )
    docw = (
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("word"),
        )
        .where(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("occ"))
    )
    agg = (
        docw.join(nsyms, "word")
        .groupBy("source")
        .agg(
            F.sum("occ").cast("long").alias("words"),
            F.sum(F.col("occ") * F.col("n_syms"))
            .cast("long")
            .alias("bpe_tokens"),
            F.sum(F.col("occ") * F.length("word"))
            .cast("long")
            .alias("chars"),
        )
    )
    nd = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return agg.join(nd, "source").select(
        "source",
        "n_docs",
        "words",
        "bpe_tokens",
        "chars",
        F.expr("(bpe_tokens * 1000L) div words").alias("fertility_x1000"),
        F.expr("(chars * 1000L) div bpe_tokens").alias(
            "chars_per_token_x1000"
        ),
    )


# ---------------------------------------------------------------------------
# Per-document perplexity under the corpus's own bigram MLE LM — the
# quality-filtering signal a training-data pipeline computes for every
# document (CCNet / Gopher-style, with the LM trained in-engine).
#
# Cross-engine float discipline: ln(p) is quantized to an exact 1e-6
# integer PER DISTINCT BIGRAM (a deterministic per-row IEEE op over
# the vocab²-bounded LM table), so the per-document accumulation is
# integer arithmetic — associative, partial-agg-order independent.
# The only post-sum float op is one display division per output row.
# Scale shape: the LM table is vocab²-bounded (tiny vs the corpus);
# per-doc scoring joins each doc's bigram counts to the broadcast LM.
# ---------------------------------------------------------------------------
@register(
    "doc_perplexity_bigram",
    _POS_CTE
    + """,
    bi AS (
      SELECT doc_id, term AS w1,
             LEAD(term) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM pos
    ),
    doc_bi AS (
      SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS c_doc
      FROM bi WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
    ),
    lm AS (
      SELECT w1, w2,
             CAST(ROUND(ln(SUM(c_doc) * 1.0 /
               SUM(SUM(c_doc)) OVER (PARTITION BY w1)) * 1000000, 0) AS BIGINT)
               AS qlog
      FROM doc_bi GROUP BY w1, w2
    )
    SELECT d.doc_id,
           CAST(SUM(d.c_doc) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(d.c_doc * lm.qlog) / (SUM(d.c_doc) * 1000000.0), 6)
             AS avg_nll
    FROM doc_bi d JOIN lm ON lm.w1 = d.w1 AND lm.w2 = d.w2
    GROUP BY d.doc_id
    """,
)
def doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average negative log-likelihood per document under the
    corpus-trained bigram MLE model.

    The LM is derived from the same corpus, so every document bigram
    is in-vocabulary (no smoothing needed for MLE scoring). The join
    to the LM is vocab²-bounded — broadcast-sized at any corpus scale.
    """
    pos = _positions(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("i")
    bi = pos.select(
        "doc_id",
        F.col("term").alias("w1"),
        F.lead("term").over(w).alias("w2"),
    ).where(F.col("w2").isNotNull())
    doc_bi = bi.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("c_doc"))
    wl = Window.partitionBy("w1")
    lm = (
        doc_bi.groupBy("w1", "w2")
        .agg(F.sum("c_doc").alias("c12"))
        .select(
            "w1",
            "w2",
            F.round(
                F.log(F.col("c12") / F.sum("c12").over(wl)) * 1_000_000, 0
            )
            .cast("long")
            .alias("qlog"),
        )
    )
    return (
        doc_bi.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("c_doc") * F.col("qlog"))
                / (F.sum("c_doc") * 1_000_000.0),
                6,
            ).alias("avg_nll"),
        )
    )


# ===========================================================================
# LLM-training-data operators: sequence packing, data-mixture
# sampling, and event streak (gaps-and-islands) detection.
#
# - ``pack_sequences`` emits the offset table a training dataloader
#   needs after concat-and-chunk packing (the standard GPT pipeline
#   step: concatenate each source's token stream, slice every
#   SEQ_BUDGET tokens). Packing is per-source — embarrassingly
#   parallel, so the window never needs a global ordering; at 100 TB
#   each source (or shard-of-source) packs independently on its own
#   partition.
# - ``data_mixture_sample`` applies per-source acceptance rates (the
#   "data mixture" step that up/down-weights corpora before training)
#   with a deterministic md5 coin per document, so the sampled subset
#   is reproducible across engines and runs — no RNG state anywhere.
# - ``events_gaps_islands`` is the classic islands detection (runs of
#   identical event_type per user) via the row_number-difference
#   trick: two stable windows, zero self-joins.
#
# All arithmetic is integer; both engines compute identical values, so
# every oracle is a full hash match.
# ===========================================================================


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk offset table.
# ---------------------------------------------------------------------------
SEQ_BUDGET = 256  # tokens per packed training sequence


@register(
    "pack_sequences",
    f"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM d
    )
    SELECT source, doc_id, n_tok,
           CAST(cum - n_tok AS BIGINT) AS start_off,
           CAST((cum - n_tok) // {SEQ_BUDGET} AS BIGINT) AS start_seq,
           CAST((cum - 1) // {SEQ_BUDGET} AS BIGINT) AS end_seq,
           CAST((cum - 1) // {SEQ_BUDGET} - (cum - n_tok) // {SEQ_BUDGET} + 1 AS BIGINT) AS n_seqs
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (per-source token streams
    sliced every SEQ_BUDGET tokens): one row per document with its
    global token offset and the packed-sequence span it lands in —
    the exact artifact a packed-pretraining dataloader indexes by.

    Scale shape: a single running-sum window PARTITIONED BY source
    (never a global ordering), so every source packs independently;
    one shuffle on source, state per partition is one running sum.
    Token counts are whitespace counts — same `split` semantics in
    both engines — and every derived column is integer division on
    exact BIGINTs.
    """
    d = load_tables(spark, sf_dir)["documents"].select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    start_seq = ((F.col("cum") - F.col("n_tok")) / SEQ_BUDGET).cast("long")
    end_seq = ((F.col("cum") - 1) / SEQ_BUDGET).cast("long")
    return c.select(
        "source",
        "doc_id",
        "n_tok",
        (F.col("cum") - F.col("n_tok")).alias("start_off"),
        F.floor((F.col("cum") - F.col("n_tok")) / SEQ_BUDGET).alias("start_seq"),
        F.floor((F.col("cum") - 1) / SEQ_BUDGET).alias("end_seq"),
        (
            F.floor((F.col("cum") - 1) / SEQ_BUDGET)
            - F.floor((F.col("cum") - F.col("n_tok")) / SEQ_BUDGET)
            + 1
        ).alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# Data-mixture sampling: deterministic per-source acceptance rates.
# ---------------------------------------------------------------------------
# rate in basis points (of 10_000) by source index tier — the shape of
# a real mixture spec (keep all of the curated tier, down-weight the
# crawl tiers).
_MIX_TIERS_SQL = """
      CASE WHEN CAST(substr(source, 4) AS BIGINT) < 5 THEN 10000
           WHEN CAST(substr(source, 4) AS BIGINT) < 10 THEN 5000
           WHEN CAST(substr(source, 4) AS BIGINT) < 15 THEN 2500
           ELSE 1000 END
"""

# md5 nibbles 13-16 of "source:doc_id" -> uniform 0..65535, % 10000.
# Identical byte-for-byte in both engines (same idiom as split_assign,
# plans/coverage.py).
_COIN_SQL = """
      ((((instr('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 13, 1)) - 1) * 16
        + (instr('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 14, 1)) - 1)) * 16
        + (instr('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 15, 1)) - 1)) * 16
        + (instr('0123456789abcdef', substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 16, 1)) - 1)) % 10000
"""


def mix_rate_bp_col() -> F.Column:
    """Spark twin of _MIX_TIERS_SQL — single source for the tier rates
    shared by data_mixture_sample and e2_corpus_curation."""
    src_idx = F.substring(F.col("source"), 4, 10).cast("long")
    return (
        F.when(src_idx < 5, 10000)
        .when(src_idx < 10, 5000)
        .when(src_idx < 15, 2500)
        .otherwise(1000)
    )


def mix_coin_col() -> F.Column:
    """Spark twin of _COIN_SQL: md5 nibbles 13-16 of source:doc_id as a
    uniform 0..9999 coin."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))
                ),
                13,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )


@register(
    "data_mixture_sample",
    f"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             {_MIX_TIERS_SQL} AS rate_bp,
             {_COIN_SQL} AS coin
      FROM documents
    )
    SELECT source, CAST(rate_bp AS BIGINT) AS rate_bp,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN coin < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           CAST(SUM(CASE WHEN coin < rate_bp THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept
    FROM d GROUP BY 1, 2
    """,
)
def data_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture sampling: each source tier gets an
    acceptance rate (basis points); a document survives iff an
    md5-derived uniform coin on (source, doc_id) lands under the
    rate. Per-source kept/total accounting comes back for the
    mixture report.

    The coin is pure projection (no shuffle); the report is one
    partial-aggregated groupBy on source. Reproducible end-to-end:
    re-running over the same corpus keeps exactly the same documents
    — the property that makes mixture experiments comparable. At
    100 TB the filter applies scan-side; only per-source counters
    shuffle.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    d = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        mix_rate_bp_col().cast("long").alias("rate_bp"),
        mix_coin_col().alias("coin"),
    )
    kept = F.col("coin") < F.col("rate_bp")
    return d.groupBy("source", "rate_bp").agg(
        F.count("*").alias("n_total"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum("n_tok").alias("tok_total"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0))).alias("tok_kept"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: runs of identical event_type per user.
# ---------------------------------------------------------------------------
MIN_STREAK = 3


@register(
    "events_gaps_islands",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rn_all,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY sec, event_id) AS rn_typ
      FROM e
    )
    SELECT user_id, event_type,
           COUNT(*) AS streak_len,
           MIN(sec) AS start_sec, MAX(sec) AS end_sec,
           MIN(event_id) AS first_event_id
    FROM r
    GROUP BY user_id, event_type, rn_all - rn_typ
    HAVING COUNT(*) >= {MIN_STREAK}
    """,
)
def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands detection: maximal runs of the same event_type in each
    user's timeline, reported when the streak reaches MIN_STREAK.
    The row_number-difference trick — (global rank) − (per-type rank)
    is constant exactly within a run — turns island detection into
    two windows plus one groupBy; both windows and the aggregate
    share the user_id partitioning, so the whole plan is one
    exchange and zero joins. Ordering is (sec, event_id): stable and
    identical in both engines.
    """
    e = load_tables(spark, sf_dir)["events"].select(
        "user_id", "event_id", "event_type", F.col("ts_sec").alias("sec")
    )
    w_all = Window.partitionBy("user_id").orderBy("sec", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    r = e.select(
        "user_id",
        "event_type",
        "sec",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("grp"),
    )
    return (
        r.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count("*").alias("streak_len"),
            F.min("sec").alias("start_sec"),
            F.max("sec").alias("end_sec"),
            F.min("event_id").alias("first_event_id"),
        )
        .where(F.col("streak_len") >= MIN_STREAK)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Collocation / phrase mining: the word2vec phrase-merge score
# (Mikolov et al. 2013, "Distributed Representations of Words and
# Phrases": score(a,b) = (count(ab) − δ) / (count(a)·count(b))) —
# the step that decides which bigrams become single tokens before
# vocabulary/tokenizer training. PMI needs log; this score is the
# division-only equivalent ranking, and the division is integer-
# scaled (×1e12, integer div) so both engines agree bit-for-bit and
# partial aggregation stays associative.
#
# Plan shape: one token explode → two integer count aggs (bigram,
# unigram) → broadcast the unigram counts (vocab-sized) back onto the
# bigram table → top-k. The corpus is touched once.
# ---------------------------------------------------------------------------
COLLOC_DELTA = 3
COLLOC_MIN_COUNT = 5
COLLOC_TOPK = 30
_COLLOC_SCALE = 1_000_000_000_000


@register(
    "text_collocations",
    f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    pos AS MATERIALIZED (
      SELECT doc_id, w[i] AS term, CAST(i AS BIGINT) AS i
      FROM toks CROSS JOIN unnest(generate_series(1, len(w))) AS t(i)
    ),
    uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM pos GROUP BY term),
    bi AS (
      SELECT doc_id, term AS w1,
             LEAD(term) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM pos
    ),
    cb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM bi WHERE w2 IS NOT NULL GROUP BY 1, 2
    ),
    scored AS (
      SELECT cb.w1, cb.w2, cb.c_ab, u1.c AS c_a, u2.c AS c_b,
             CAST(((cb.c_ab - {COLLOC_DELTA}) * {_COLLOC_SCALE}) // (u1.c * u2.c)
                  AS BIGINT) AS score_scaled
      FROM cb JOIN uni u1 ON u1.term = cb.w1 JOIN uni u2 ON u2.term = cb.w2
      WHERE cb.c_ab >= {COLLOC_MIN_COUNT}
    )
    SELECT w1, w2, c_ab, c_a, c_b,
           ROUND(score_scaled / {float(_COLLOC_SCALE)}, 6) AS score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY score_scaled DESC, w1 ASC, w2 ASC) AS rnk
      FROM scored
    )
    WHERE rnk <= {COLLOC_TOPK}
    """,
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by the word2vec phrase score."""
    docs = load_tables(spark, sf_dir)["documents"]
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).cast("long").alias("i"))
    uni = pos.groupBy("term").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id").orderBy("i")
    bi = pos.select(
        F.col("term").alias("w1"), F.lead("term").over(w).alias("w2")
    ).where(F.col("w2").isNotNull())
    cb = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= COLLOC_MIN_COUNT)
    )
    scored = (
        cb.join(
            F.broadcast(uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b"))),
            "w2",
        )
        .withColumn(
            "score_scaled",
            F.expr(
                f"((c_ab - {COLLOC_DELTA}) * {_COLLOC_SCALE}) div (c_a * c_b)"
            ),
        )
    )
    wr = Window.orderBy(F.desc("score_scaled"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .where(F.col("rnk") <= COLLOC_TOPK)
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.round(F.col("score_scaled") / F.lit(float(_COLLOC_SCALE)), 6).alias(
                "score"
            ),
            "rnk",
        )
    )


# ---------------------------------------------------------------------------
# E2 — the composed LLM corpus-curation pipeline, end-to-end in ONE
# lazy plan: exact dedup (keep-first by content hash) → quality filter
# (min length + type-token ratio) → language filter (marker-argmax
# language ID == 'en') → mixture sampling (per-source md5 coin under
# the tier rate) → packed-sequence accounting per source. This is the
# "documents in, training shards out" funnel every pretraining corpus
# goes through (the per-stage operators are the already-oracled
# registry queries; here their COMPOSITION is oracled as one CTE
# chain, catching stage-ordering and column-contract drift the
# per-operator checks cannot see).
#
# Plan shape: one scan; the dedup window and the token aggregation
# are the only wide stages, both keyed on content/doc — at 100 TB the
# funnel counters are partial-aggregated per source, and every filter
# is a scan-side projection (no stage re-reads the corpus).
# ---------------------------------------------------------------------------
E2_MIN_TOKENS = 25
E2_MAX_TTR = 0.9


@register(
    "e2_corpus_curation",
    f"""
    WITH base AS (
      SELECT doc_id, source, text,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
             ({_COIN_SQL}) < ({_MIX_TIERS_SQL}) AS mix_ok
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM base WHERE keeper
    ),
    stats AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             COUNT(DISTINCT tok) / (1.0 * COUNT(*)) AS ttr,
             CAST(SUM(CASE WHEN tok IN ('the','and','of') THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
             CAST(SUM(CASE WHEN tok IN ('el','la','de') THEN 1 ELSE 0 END) AS BIGINT) AS es_hits,
             CAST(SUM(CASE WHEN tok IN ('le','les','une') THEN 1 ELSE 0 END) AS BIGINT) AS fr_hits,
             CAST(SUM(CASE WHEN tok IN ('der','die','und') THEN 1 ELSE 0 END) AS BIGINT) AS de_hits
      FROM toks GROUP BY doc_id
    ),
    funnel AS (
      SELECT b.source, s.n_tok,
             s.n_tok >= {E2_MIN_TOKENS} AND s.ttr <= {E2_MAX_TTR} AS q_ok,
             s.en_hits > GREATEST(s.es_hits, s.fr_hits, s.de_hits) AS lang_ok,
             b.mix_ok
      FROM base b JOIN stats s ON s.doc_id = b.doc_id
      WHERE b.keeper
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_after_dedup,
           CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_quality,
           CAST(SUM(CASE WHEN q_ok AND lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_lang,
           CAST(SUM(CASE WHEN q_ok AND lang_ok AND mix_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN q_ok AND lang_ok AND mix_ok THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
           CAST(CEIL(SUM(CASE WHEN q_ok AND lang_ok AND mix_ok THEN n_tok ELSE 0 END) / {SEQ_BUDGET}.0) AS BIGINT) AS n_seqs
    FROM funnel GROUP BY source
    """,
)
def e2_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: dedup → quality → lang → mix → pack."""
    from erkg_tutorials_spark.text.quality import LANG_MARKERS

    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy(F.md5("text"))
    base = docs.select(
        "doc_id",
        "source",
        "text",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keeper"),
    ).where("keeper")
    toks = base.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )

    def hits(markers):
        return F.sum(F.col("tok").isin(*markers).cast("long"))

    stats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        (F.countDistinct("tok") / (F.lit(1.0) * F.count("*"))).alias("ttr"),
        hits(LANG_MARKERS["en"]).alias("en_hits"),
        hits(LANG_MARKERS["es"]).alias("es_hits"),
        hits(LANG_MARKERS["fr"]).alias("fr_hits"),
        hits(LANG_MARKERS["de"]).alias("de_hits"),
    )
    rate_bp = mix_rate_bp_col()
    coin = mix_coin_col()
    funnel = base.join(stats, "doc_id").select(
        "source",
        "n_tok",
        (
            (F.col("n_tok") >= E2_MIN_TOKENS) & (F.col("ttr") <= E2_MAX_TTR)
        ).alias("q_ok"),
        (
            F.col("en_hits")
            > F.greatest("es_hits", "fr_hits", "de_hits")
        ).alias("lang_ok"),
        (coin < rate_bp).alias("mix_ok"),
    )
    kept = F.col("q_ok") & F.col("lang_ok") & F.col("mix_ok")
    tok_kept = F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0)))
    return funnel.groupBy("source").agg(
        F.count("*").alias("n_after_dedup"),
        F.sum(F.col("q_ok").cast("long")).alias("n_after_quality"),
        F.sum((F.col("q_ok") & F.col("lang_ok")).cast("long")).alias("n_after_lang"),
        F.sum(kept.cast("long")).alias("n_kept"),
        tok_kept.alias("tok_kept"),
        F.ceil(tok_kept / F.lit(float(SEQ_BUDGET))).cast("long").alias("n_seqs"),
    )


# ---------------------------------------------------------------------------
# Deterministic training-shard manifest: the last mile of the
# curation pipeline. Every document gets (a) a shard by md5 hash —
# byte-identical in both engines via the conv/'0x' hex parse — and
# (b) a reproducible WITHIN-shard order by a second independent
# hash: the "global training shuffle" without any global sort (one
# row_number per shard partition). The manifest row per shard pins
# counts, char volume, and the first 3 doc_ids in training order, so
# a dataloader (or the oracle) can verify the exact layout.
# ---------------------------------------------------------------------------
N_SHARDS = 16


@register(
    "shard_manifest",
    f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
        CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % {N_SHARDS} AS shard,
        CAST(('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS okey
      FROM documents
    ),
    ordered AS (
      SELECT shard, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id)
               AS pos
      FROM assigned
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           string_agg(CASE WHEN pos <= 3 THEN CAST(doc_id AS VARCHAR) END,
                      ',' ORDER BY pos) AS head_docs
    FROM ordered GROUP BY shard
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-way shard layout with a reproducible
    within-shard training order — hash sharding + per-shard
    row_number, never a global sort; re-running on the same corpus
    reproduces the layout bit-for-bit (no RNG state)."""
    d = load_tables(spark, sf_dir)["documents"]

    def _h(prefix: str) -> str:
        return (
            f"CAST(conv(substr(md5(concat('{prefix}:', "
            f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )

    assigned = d.select(
        "doc_id",
        "n_chars",
        F.expr(f"{_h('shard')} % {N_SHARDS}").alias("shard"),
        F.expr(_h("order")).alias("okey"),
    )
    wn = Window.partitionBy("shard").orderBy("okey", "doc_id")
    ordered = assigned.withColumn("pos", F.row_number().over(wn))
    return ordered.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("pos") <= 3,
                            F.struct("pos", F.col("doc_id").cast("string")),
                        )
                    )
                ),
                lambda s: s.getField("col2"),
            ),
        ).alias("head_docs"),
    )


# ---------------------------------------------------------------------------
# Sequence-length bucketing: the batching-efficiency report a training
# dataloader uses to pick bucket boundaries. Every doc is padded up to
# the next multiple of PAD_QUANTUM tokens (the pad-to-multiple pattern
# that keeps tensor shapes kernel-friendly); the report gives, per
# bucket, the doc count, real tokens, padding tokens, and the padding
# fraction of the padded batch. All integer arithmetic until one final
# division. Scale: one scan, one groupBy on a small bounded key domain
# (distinct bucket lengths) — map-side combine does almost all the
# work; no window, no sort.
# ---------------------------------------------------------------------------
PAD_QUANTUM = 64


@register(
    "length_bucket_stats",
    f"""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT CAST(((n_tok + {PAD_QUANTUM - 1}) // {PAD_QUANTUM}) * {PAD_QUANTUM}
                AS BIGINT) AS bucket_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(((n_tok + {PAD_QUANTUM - 1}) // {PAD_QUANTUM})
                    * {PAD_QUANTUM} - n_tok) AS BIGINT) AS total_padding,
           ROUND(SUM(((n_tok + {PAD_QUANTUM - 1}) // {PAD_QUANTUM})
                     * {PAD_QUANTUM} - n_tok)
                 / (1.0 * SUM(((n_tok + {PAD_QUANTUM - 1}) // {PAD_QUANTUM})
                     * {PAD_QUANTUM})), 6)
             AS waste_ratio
    FROM d
    GROUP BY 1
    """,
)
def length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pad-to-multiple-of-{PAD_QUANTUM} sequence-length bucketing with
    exact padding-waste accounting (whitespace tokenization, the
    pack_sequences convention)."""
    q = PAD_QUANTUM
    d = load_tables(spark, sf_dir)["documents"].select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok")
    ).withColumn(
        "bucket_len", (F.expr(f"(n_tok + {q - 1}) div {q}") * q).cast("long")
    )
    return (
        d.groupBy("bucket_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.col("bucket_len") - F.col("n_tok"))
            .cast("long")
            .alias("_tp"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "total_tokens",
            F.col("_tp").alias("total_padding"),
            F.round(
                F.col("_tp") / (F.col("total_tokens") + F.col("_tp")), 6
            ).alias("waste_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# e3: the full pretraining-data decision chain in ONE lazy plan —
# near-dup keep-best (MinHash clusters, canonical doc per cluster)
# → model-based quality gate (frozen logistic logit >= 0)
# → deterministic hash sharding with per-shard token accounting and
#   an order-independent content fingerprint (bit_xor of md5-derived
#   doc keys, so the manifest pins WHICH docs landed in each shard,
#   not just how many).
# Every stage reuses the already-oracled building block: the oracle
# composes the same CTEs (textq.MINHASH_PAIRS_CTE, oracle_pr label
# propagation, the textq logistic expression, shard_manifest's md5
# assignment) — a user can swap any stage without touching the rest.
# ---------------------------------------------------------------------------
def _e3_oracle() -> str:
    from erkg_tutorials_spark.plans.oracle_pr import cc_label_prop_sql
    from erkg_tutorials_spark.plans.textq import MINHASH_PAIRS_CTE
    from erkg_tutorials_spark.text.quality import (
        STOPWORDS_EN,
        quality_z_sql,
    )

    z_sql = quality_z_sql()
    return (
        MINHASH_PAIRS_CTE
        + """,
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
"""
        + cc_label_prop_sql(rounds=10)
        + f""",
    asg AS (
      SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS cluster,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
      FROM documents d LEFT JOIN l10 l ON d.doc_id = l.id
    ),
    kept AS (
      SELECT doc_id FROM asg
      QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster
                                 ORDER BY n_tok DESC, doc_id) = 1
    ),
    ktoks AS (
      SELECT d.doc_id, unnest(string_split(lower(d.text), ' ')) AS tok
      FROM documents d JOIN kept USING (doc_id)
    ),
    feats AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             ROUND(COUNT(DISTINCT tok) / (1.0 * COUNT(*)), 6) AS ttr,
             ROUND(SUM(CASE WHEN tok IN {STOPWORDS_EN!r} THEN 1 ELSE 0 END)
                   / (1.0 * COUNT(*)), 6) AS stopword_ratio,
             ROUND(SUM(LENGTH(tok)) / (1.0 * COUNT(*)), 6) AS avg_token_len
      FROM ktoks GROUP BY doc_id
    ),
    survivors AS (
      SELECT doc_id, n_tokens FROM feats WHERE ({z_sql}) >= 0.0
    ),
    sharded AS (
      SELECT doc_id, n_tokens,
        CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % {N_SHARDS} AS shard,
        CAST(('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS dockey
      FROM survivors
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(bit_xor(dockey) AS BIGINT) AS docset_fp
    FROM sharded GROUP BY shard
    """
    )


@register("e3_pretrain_shards", _e3_oracle())
def e3_pretrain_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pretraining-shard pipeline: MinHash keep-best near-dup
    retention → frozen-weight logistic quality gate → md5 hash
    sharding, returning one manifest row per shard
    ``(shard, n_docs, n_tokens, docset_fp)``.

    Scale notes (100 TB): one lazy plan end-to-end — the only
    shuffles are the (memoized) MinHash band join, the CC fixpoint,
    two bounded groupBys (cluster keep-best, per-doc features), and
    the final N_SHARDS-row manifest agg. The quality gate and the
    shard assignment are scan-side projections; the fingerprint is an
    order-independent integer bit_xor, so no per-shard ordering is
    ever materialized. Reference analogue: the tutorials' curate-then
    -export loop (dagster_icij/assets.py asset chain), here as one
    Catalyst plan instead of sequential materialized assets.
    """
    from erkg_tutorials_spark.dedup.clusters import dedup_assign
    from erkg_tutorials_spark.plans.textq import minhash_pairs_cached
    from erkg_tutorials_spark.text.quality import logistic_quality

    t = load_tables(spark, sf_dir)
    docs = t["documents"]

    pairs = minhash_pairs_cached(spark, sf_dir)
    clusters = dedup_assign(docs.select("doc_id"), pairs).select("doc_id", "cluster")
    with_tok = clusters.join(
        docs.select(
            "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok")
        ),
        "doc_id",
    )
    wk = Window.partitionBy("cluster").orderBy(F.desc("n_tok"), "doc_id")
    kept = (
        with_tok.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
        .select("doc_id")
    )

    scored = logistic_quality(docs.join(kept, "doc_id"), include_n_tokens=True)
    survivors = scored.where("keep").select("doc_id", "n_tokens")

    def _h(prefix: str) -> str:
        return (
            f"CAST(conv(substr(md5(concat('{prefix}:', "
            f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        )

    sharded = survivors.select(
        "doc_id",
        "n_tokens",
        F.expr(f"{_h('shard')} % {N_SHARDS}").alias("shard"),
        F.expr(_h("doc")).alias("dockey"),
    )
    return sharded.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.expr("bit_xor(dockey)").cast("long").alias("docset_fp"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling" — public paper).
# Hashed-bigram bag features: each word bigram hashes into one of 256
# buckets (md5 prefix — the seed-free feature hash); a document's
# importance weight is the sum over its bigram occurrences of the
# per-bucket log-likelihood ratio ln((ct+1)/(cs+1)) between a target
# domain sample and the remaining source pool. The per-bucket ln is
# quantized to exact 1e-6 integers (the doc_perplexity_bigram float
# discipline), so every downstream sum and the top-k cut are
# bit-exact in both engines. Selection = top-K source docs by score
# (the resampling step; the weights are the sampling distribution).
# Scale notes: gram hashing is map-side; the per-bucket count tables
# are 256 rows — BROADCAST into the scoring join, so the only wide
# shuffle is the per-doc score groupBy on doc_id (the corpus's
# natural key). Target-sample counts at 100 TB come from a fixed-size
# domain sample, not the full corpus — the same shape as here.
# ---------------------------------------------------------------------------
DSIR_TARGET_MOD = 17  # doc_id % MOD = 0 -> the target-domain sample
DSIR_TOP_K = 100


@register(
    "dsir_importance_sample",
    f"""
    WITH grams AS MATERIALIZED (
      SELECT doc_id, substr(md5(w[i] || ' ' || w[i+1]), 1, 2) AS b
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
      CROSS JOIN unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)
    ),
    ct AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM grams
      WHERE doc_id % {DSIR_TARGET_MOD} = 0 GROUP BY b
    ),
    cs AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM grams
      WHERE doc_id % {DSIR_TARGET_MOD} <> 0 GROUP BY b
    ),
    buckets AS (
      SELECT b FROM ct UNION SELECT b FROM cs
    ),
    ratio AS MATERIALIZED (
      SELECT buckets.b,
             CAST(ROUND(ln((COALESCE(ct.c, 0) + 1) * 1.0
                           / (COALESCE(cs.c, 0) + 1)) * 1000000, 0) AS BIGINT)
               AS qlog
      FROM buckets LEFT JOIN ct ON ct.b = buckets.b
                   LEFT JOIN cs ON cs.b = buckets.b
    ),
    scored AS (
      SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(r.qlog) AS BIGINT) AS score_q
      FROM grams g JOIN ratio r ON r.b = g.b
      WHERE g.doc_id % {DSIR_TARGET_MOD} <> 0
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, score_q
    FROM scored ORDER BY score_q DESC, doc_id LIMIT {DSIR_TOP_K}
    """,
)
def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: top-K source docs by exact-integer hashed-bigram log-likelihood-ratio score against a target domain sample."""
    docs = load_tables(spark, sf_dir)["documents"]
    w = F.split(F.lower(F.col("text")), " ")
    grams = docs.select("doc_id", w.alias("w")).select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> substr(md5(concat(element_at(w, i), ' ',"
                    " element_at(w, i + 1))), 1, 2))"
                ),
            ).otherwise(F.expr("cast(array() as array<string>)"))
        ).alias("b"),
    ).withColumn("is_target", F.col("doc_id") % DSIR_TARGET_MOD == 0)
    ct = grams.where("is_target").groupBy("b").agg(F.count("*").alias("c_t"))
    cs = grams.where(~F.col("is_target")).groupBy("b").agg(F.count("*").alias("c_s"))
    ratio = (
        ct.join(cs, "b", "full_outer")
        .select(
            "b",
            F.round(
                F.log(
                    (F.coalesce("c_t", F.lit(0)) + 1)
                    * 1.0
                    / (F.coalesce("c_s", F.lit(0)) + 1)
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("qlog"),
        )
    )
    scored = (
        grams.where(~F.col("is_target"))
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("qlog").alias("score_q"),
        )
    )
    return scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(DSIR_TOP_K)


# ---------------------------------------------------------------------------
# Temperature-scaled mixture planning (the multilingual-sampling rule
# of XLM-R / mT5, public papers: p_i ∝ (n_i/N)^(1/τ), here τ = 2):
# given per-source token mass, produce the sampling weights, the
# token budget each source should contribute, and the epoch (repeat)
# factor that implies — the planning table a data-mixing pipeline
# materializes before building shards (the static complement to
# dsir_importance_sample's per-document reweighting).
#
# Exactness: the per-source sqrt is one IEEE-correctly-rounded call
# on an integer (identical in both engines), immediately ROUND()ed to
# a BIGINT; every sum/ratio after that is integer arithmetic, so no
# float accumulation order can differ. Budget = 2× corpus tokens.
#
# Scale: token counting is the usual explode+groupBy (map-side
# combinable); everything after is a |sources|-row table.
# ---------------------------------------------------------------------------
MIX_TAU_BUDGET_X = 2


@register(
    "mixture_temperature_weights",
    f"""
    WITH toks AS (
      SELECT source, doc_id, len(string_split(lower(text), ' ')) AS nt
      FROM documents
    ),
    src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ),
    sq AS (
      SELECT *, CAST(ROUND(sqrt(n_tokens), 0) AS BIGINT) AS s
      FROM src
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS nn,
             CAST(SUM(s) AS BIGINT) AS ss
      FROM sq
    )
    SELECT q.source, q.n_docs, q.n_tokens,
           CAST(ROUND(q.n_tokens * 1000000.0 / t.nn, 0) AS BIGINT)
             AS p_raw_ppm,
           CAST(ROUND(q.s * 1000000.0 / t.ss, 0) AS BIGINT) AS w_ppm,
           ({MIX_TAU_BUDGET_X} * t.nn
            * CAST(ROUND(q.s * 1000000.0 / t.ss, 0) AS BIGINT)) // 1000000
             AS tokens_target,
           (({MIX_TAU_BUDGET_X} * t.nn
             * CAST(ROUND(q.s * 1000000.0 / t.ss, 0) AS BIGINT))
            // 1000000) * 1000 // q.n_tokens AS epochs_x1000
    FROM sq q CROSS JOIN tot t
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (tau=2) source mixture plan: sampling weights, per-source token budgets, and epoch factors from exact integer arithmetic."""
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "source",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("nt"),
    )
    src = toks.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    sq = src.withColumn(
        "s", F.round(F.sqrt(F.col("n_tokens")), 0).cast("long")
    )
    tot = sq.agg(
        F.sum("n_tokens").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
    )
    w_ppm = F.round(F.col("s") * 1000000.0 / F.col("ss"), 0).cast("long")
    # integer `div`, not double `/` + cast: the numerator 2*nn*w_ppm
    # exceeds 2^53 long before BIGINT overflows, so only exact integral
    # division keeps the Spark side bit-identical to DuckDB's `//` at
    # any corpus magnitude
    return (
        sq.crossJoin(F.broadcast(tot))
        .withColumn("w_ppm", w_ppm)
        .withColumn(
            "tokens_target",
            F.expr(f"({MIX_TAU_BUDGET_X}L * nn * w_ppm) div 1000000L"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") * 1000000.0 / F.col("nn"), 0)
            .cast("long")
            .alias("p_raw_ppm"),
            "w_ppm",
            "tokens_target",
            F.expr("(tokens_target * 1000L) div n_tokens")
            .alias("epochs_x1000"),
        )
    )
