"""RAG-serving preprocessing tier: overlapping document chunking and
hybrid-search rank fusion — the two operators between a curated
corpus and a retrieval index.

Scale notes (100 TB):
- doc_chunks: each token joins its <= ceil(W/S) owning chunks by pure
  arithmetic (no token x chunk range join, no per-doc UDF); one
  groupBy on (doc, chunk) with the document as the partition unit.
- hybrid_rrf_search: both rankers are corpus-wide aggregations that
  collapse to query-term-sized tables before ranking; the fusion
  joins two top-k lists (k rows each). BM25 contributions quantize
  to 1e-6 integers per (doc, term) BEFORE summation and the density
  ranker orders on an exact integer proxy, so ranking never depends
  on float accumulation order; the reciprocal-rank terms themselves
  are single divisions added in a fixed order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Overlapping chunking: windows of W tokens every S tokens (overlap
# W-S). Token i belongs to chunk k iff k*S < i <= k*S + W, i.e.
# k in [ceil((i-W)/S) .. floor((i-1)/S)] clamped at 0 — at most
# ceil(W/S) chunks per token, assigned arithmetically.
# ---------------------------------------------------------------------------
CHUNK_W = 64
CHUNK_S = 48


def _chunks_oracle() -> str:
    from erkg_tutorials_spark.plans.llmops import _POS_CTE

    return (
        _POS_CTE
        + f""",
    owners AS (
      SELECT doc_id, i, term,
             CAST(k AS BIGINT) AS k
      FROM pos
      CROSS JOIN unnest(generate_series(
        CAST(greatest(0, ceil((i - {CHUNK_W}) / {CHUNK_S}.0)) AS BIGINT),
        CAST(floor((i - 1) / {CHUNK_S}.0) AS BIGINT)
      )) AS t(k)
    )
    SELECT doc_id, k AS chunk_id,
           CAST(k * {CHUNK_S} + 1 AS BIGINT) AS chunk_start,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           string_agg(term, ' ' ORDER BY i) AS chunk_text
    FROM owners
    GROUP BY doc_id, k
    """
    )


@register("doc_chunks", _chunks_oracle())
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping W={W}/stride-S={S} token chunks per document.

    Ownership is computed per token (<= 2 chunks each at these
    parameters) so there is no token-by-chunk range join; the only
    wide stage is the (doc, chunk) aggregation, partitioned by the
    document that owns it.
    """
    from erkg_tutorials_spark.plans.llmops import _positions

    pos = _positions(spark, sf_dir)
    owners = pos.select(
        "doc_id",
        "i",
        "term",
        F.explode(
            F.sequence(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.ceil((F.col("i") - CHUNK_W) / float(CHUNK_S)).cast("long"),
                ),
                F.floor((F.col("i") - 1) / float(CHUNK_S)).cast("long"),
            )
        ).alias("k"),
    )
    return owners.groupBy("doc_id", F.col("k").alias("chunk_id")).agg(
        (F.col("chunk_id") * CHUNK_S + 1).cast("long").alias("chunk_start"),
        F.count("*").alias("n_tok"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "term"))),
                lambda s: s["term"],
            ),
            " ",
        ).alias("chunk_text"),
    ).select("doc_id", "chunk_id", "chunk_start", "n_tok", "chunk_text")


# ---------------------------------------------------------------------------
# Hybrid search: BM25 ranking fused with a normalized-TF ranking via
# Reciprocal Rank Fusion, RRF(d) = sum over rankers of 1/(60 + rank).
# The second ranker deliberately has different biases (pure term
# density, no idf/length saturation) — that disagreement is what RRF
# exploits. Fixed 3-term query, ranks tie-broken by doc_id so both
# engines agree exactly.
# ---------------------------------------------------------------------------
RRF_K = 60
RRF_TOPK = 20
_QTERMS = ("table", "hash", "merge")


def _rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _QTERMS)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    dl AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS MATERIALIZED (
      SELECT COUNT(*) AS n_docs, SUM(dl) / (1.0 * COUNT(*)) AS avgdl FROM dl
    ),
    tf AS MATERIALIZED (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
      WHERE tok IN ({terms}) GROUP BY doc_id, tok
    ),
    df AS MATERIALIZED (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    bm25 AS (
      -- each per-(doc, term) contribution is quantized to an exact
      -- 1e-6 integer BEFORE the SUM (the doc_perplexity recipe):
      -- float summation order differs between engines, integer
      -- summation does not
      SELECT tf.doc_id,
             CAST(SUM(CAST(ROUND(
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               * 1000000, 0) AS BIGINT)) AS BIGINT) AS s1q
      FROM tf
      JOIN df ON df.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    r1 AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s1q DESC, doc_id) AS rank1
      FROM bm25 QUALIFY rank1 <= {RRF_TOPK}
    ),
    density AS (
      SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS tfsum,
             CAST(MAX(dl.dl) AS BIGINT) AS dlen
      FROM tf JOIN dl ON dl.doc_id = tf.doc_id
      GROUP BY tf.doc_id
    ),
    r2 AS (
      -- rank on the exact rational tfsum/dlen via cross-multiplied
      -- integer ordering proxy: tfsum * 1e9 // dlen (deterministic)
      SELECT doc_id, ROW_NUMBER() OVER (
        ORDER BY (tfsum * 1000000000) // dlen DESC, doc_id) AS rank2
      FROM density QUALIFY rank2 <= {RRF_TOPK}
    ),
    fused AS (
      SELECT COALESCE(r1.doc_id, r2.doc_id) AS doc_id,
             r1.rank1, r2.rank2,
             ROUND(COALESCE(1.0 / ({RRF_K} + r1.rank1), 0)
                 + COALESCE(1.0 / ({RRF_K} + r2.rank2), 0), 6) AS rrf
      FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
    )
    SELECT doc_id, rank1, rank2, rrf,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
    FROM fused
    """


@register("hybrid_rrf_search", _rrf_oracle())
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of BM25 and term-density rankings for
    the fixed 3-term query (k={K}, top-{T} per ranker).

    Both rankers reduce the corpus to a query-term-sized table before
    any ranking; the full-outer fusion joins two {T}-row lists. The
    final window sorts {T}*2 rows at most — driver-scale work framed
    as a plan, not a collect.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), (F.sum("dl") / F.count("*")).alias("avgdl")
    )
    tf = (
        toks.where(F.col("tok").isin(*_QTERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    bm25 = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            # per-(doc, term) contribution quantized to an exact 1e-6
            # integer before the SUM (doc_perplexity recipe) — float
            # summation order differs between engines
            F.sum(
                F.round(
                    F.log(
                        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                        + 1
                    )
                    * F.col("tf")
                    * 2.2
                    / (
                        F.col("tf")
                        + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                    )
                    * 1_000_000,
                    0,
                ).cast("long")
            )
            .cast("long")
            .alias("s1q")
        )
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — a
    # distributed top-k (per-partition heads merged on one reducer of
    # k rows), never a single-task sort of every scored doc. The
    # row_number window then runs over k rows only.
    r1 = (
        bm25.orderBy(F.desc("s1q"), "doc_id")
        .limit(RRF_TOPK)
        .withColumn(
            "rank1", F.row_number().over(Window.orderBy(F.desc("s1q"), "doc_id"))
        )
        .select("doc_id", "rank1")
    )
    density = (
        tf.join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("tfsum"),
            F.max("dl").alias("dlen"),
        )
        .withColumn("s2q", F.expr("(tfsum * 1000000000) div dlen"))
    )
    r2 = (
        density.orderBy(F.desc("s2q"), "doc_id")
        .limit(RRF_TOPK)
        .withColumn(
            "rank2", F.row_number().over(Window.orderBy(F.desc("s2q"), "doc_id"))
        )
        .select("doc_id", "rank2")
    )
    fused = (
        r1.join(r2, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank1",
            "rank2",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("rank1")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("rank2")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.withColumn(
        "fused_rank",
        F.row_number().over(Window.orderBy(F.desc("rrf"), "doc_id")).cast("long"),
    )


# ---------------------------------------------------------------------------
# End-to-end chunk retrieval: the chunked corpus embedded with the
# hash-BoW encoder (md5 bucket counts — the same engine-portable
# recipe v1_embed_hash oracles), scored by cosine against the fixed
# query, top-10 returned. This is the serving path a RAG system runs
# per query, expressed as one lazy plan: chunk -> embed -> prune to
# query buckets -> score -> distributed top-k.
# ---------------------------------------------------------------------------
RETRIEVAL_DIM = 256
RETRIEVAL_TOPK = 10
_RETRIEVAL_QUERY = ("table", "hash", "merge", "join")


def _bucket_sql(tok_expr: str) -> str:
    return (
        f"((instr('0123456789abcdef', substring(md5({tok_expr}), 15, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substring(md5({tok_expr}), 16, 1)) - 1))"
        f" % {RETRIEVAL_DIM}"
    )


def _retrieval_oracle() -> str:
    from erkg_tutorials_spark.plans.llmops import _POS_CTE

    qvals = ", ".join(f"('{t}')" for t in _RETRIEVAL_QUERY)
    return (
        _POS_CTE
        + f""",
    owners AS (
      SELECT doc_id, i, term, CAST(k AS BIGINT) AS k
      FROM pos
      CROSS JOIN unnest(generate_series(
        CAST(greatest(0, ceil((i - {CHUNK_W}) / {CHUNK_S}.0)) AS BIGINT),
        CAST(floor((i - 1) / {CHUNK_S}.0) AS BIGINT)
      )) AS t(k)
    ),
    cvec AS (
      SELECT doc_id, k AS chunk_id, {_bucket_sql('term')} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM owners GROUP BY 1, 2, 3
    ),
    cnorm AS (
      SELECT doc_id, chunk_id, sqrt(SUM(c * c)) AS nrm FROM cvec GROUP BY 1, 2
    ),
    q AS (
      SELECT {_bucket_sql('tok')} AS bucket, CAST(COUNT(*) AS BIGINT) AS qc
      FROM (VALUES {qvals}) AS t(tok) GROUP BY 1
    ),
    qnorm AS (SELECT sqrt(SUM(qc * qc)) AS qn FROM q),
    dots AS (
      SELECT v.doc_id, v.chunk_id, SUM(v.c * q.qc) AS dot
      FROM cvec v JOIN q ON q.bucket = v.bucket
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.doc_id, d.chunk_id,
             ROUND(d.dot / (n.nrm * (SELECT qn FROM qnorm)), 6) AS cosine
      FROM dots d JOIN cnorm n
        ON n.doc_id = d.doc_id AND n.chunk_id = d.chunk_id
    )
    SELECT doc_id, chunk_id, cosine,
           CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id, chunk_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {RETRIEVAL_TOPK}
    """
    )


@register("chunk_retrieval", _retrieval_oracle())
def chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{K} chunks for the fixed query by hash-BoW cosine.

    The query's <= 4 buckets semi-prune the chunk vectors before any
    scoring (the inverted-index access path); norms aggregate per
    chunk once; the final top-k is orderBy().limit() =
    TakeOrderedAndProject, never a global sort.
    """
    from erkg_tutorials_spark.plans.llmops import _positions

    pos = _positions(spark, sf_dir)
    owners = pos.select(
        "doc_id",
        "term",
        F.explode(
            F.sequence(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.ceil((F.col("i") - CHUNK_W) / float(CHUNK_S)).cast("long"),
                ),
                F.floor((F.col("i") - 1) / float(CHUNK_S)).cast("long"),
            )
        ).alias("chunk_id"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 15, 2), 16, 10).cast("long")
        % RETRIEVAL_DIM
    )
    cvec = owners.groupBy("doc_id", "chunk_id", bucket.alias("bucket")).agg(
        F.count("*").alias("c")
    )
    cnorm = cvec.groupBy("doc_id", "chunk_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    q = (
        spark.createDataFrame([(t,) for t in _RETRIEVAL_QUERY], "tok string")
        .groupBy(
            (
                F.conv(F.substring(F.md5(F.col("tok")), 15, 2), 16, 10).cast("long")
                % RETRIEVAL_DIM
            ).alias("bucket")
        )
        .agg(F.count("*").alias("qc"))
    )
    qnorm = q.agg(F.sqrt(F.sum(F.col("qc") * F.col("qc"))).alias("qn"))
    dots = (
        cvec.join(F.broadcast(q), "bucket")
        .groupBy("doc_id", "chunk_id")
        .agg(F.sum(F.col("c") * F.col("qc")).alias("dot"))
    )
    scored = (
        dots.join(cnorm, ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            "chunk_id",
            F.round(F.col("dot") / (F.col("nrm") * F.col("qn")), 6).alias("cosine"),
        )
    )
    return (
        scored.orderBy(F.desc("cosine"), "doc_id", "chunk_id")
        .limit(RETRIEVAL_TOPK)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), "doc_id", "chunk_id"))
            .cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
# diversified top-k retrieval: greedily pick the candidate maximizing
# lambda*rel(d) - (1-lambda)*max_{s in selected} sim(d, s). The scale
# split: candidate GENERATION is the distributed part (exact top-N
# cosine cut over the full corpus — the knn broadcast pattern); the
# greedy re-rank runs over the N-row candidate table as N unrolled
# lazy DataFrame steps (no collect, no Python loop over rows). All
# scoring is exact integer micro-cosine with integer MMR weights
# (lambda = 0.7 -> 7*rel - 3*pen), so ranking never depends on float
# accumulation order. Reference analogue: the tutorials' LanceDB ANN
# search feeding entity disambiguation (dagster_icij/assets.py ANN
# KB); MMR is the standard diversified-serving twist on that surface.
# ---------------------------------------------------------------------------
MMR_QUERY_ID = 0
MMR_CAND = 16
MMR_K = 5
# integer MMR weights: lambda = 0.7 over micro-cosines
MMR_W_REL = 7
MMR_W_PEN = 3


def _mmr_oracle() -> str:
    steps = []
    for t in range(2, MMR_K + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id FROM s{i}" for i in range(1, t)
        )
        steps.append(
            f"""
    sel{t - 1} AS ({prev_sel}),
    s{t} AS (
      SELECT c.vec_id, c.rel_micro,
             CAST({MMR_W_REL} * c.rel_micro - {MMR_W_PEN} * MAX(s.sim_micro)
                  AS BIGINT) AS score
      FROM cand c
      JOIN sim s ON s.ia = c.vec_id
      JOIN sel{t - 1} z ON s.ib = z.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      GROUP BY c.vec_id, c.rel_micro
      ORDER BY score DESC, c.vec_id LIMIT 1
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS mmr_rank, vec_id, rel_micro,"
        f" CAST(score AS BIGINT) AS score FROM s{t}"
        for t in range(1, MMR_K + 1)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS n
      FROM embeddings
    ),
    q AS (SELECT ev AS qv, n AS qn FROM v WHERE vec_id = {MMR_QUERY_ID}),
    rel AS (
      SELECT v.vec_id,
             CAST(ROUND(1000000 * list_dot_product(v.ev, q.qv) / (v.n * q.qn))
                  AS BIGINT) AS rel_micro
      FROM v CROSS JOIN q WHERE v.vec_id <> {MMR_QUERY_ID}
    ),
    cand AS (SELECT * FROM rel ORDER BY rel_micro DESC, vec_id LIMIT {MMR_CAND}),
    cv AS (SELECT v.* FROM v JOIN cand USING (vec_id)),
    sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(ROUND(1000000 * list_dot_product(a.ev, b.ev) / (a.n * b.n))
                  AS BIGINT) AS sim_micro
      FROM cv a JOIN cv b ON a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT vec_id, rel_micro,
             CAST({MMR_W_REL} * rel_micro AS BIGINT) AS score
      FROM cand ORDER BY score DESC, vec_id LIMIT 1
    ),{",".join(steps)}
    SELECT * FROM ({finals}) ORDER BY mmr_rank
    """


@register("mmr_diversified_topk", _mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR re-rank (integer micro-cosine, lambda=0.7) of the exact top-16 cosine candidates for one query vector; k=5 unrolled lazy selection steps."""
    from erkg_tutorials_spark.similarity.knn import _as_double, _dot

    emb = load_tables(spark, sf_dir)["embeddings"]
    v = emb.select(
        "vec_id", _as_double("embedding").alias("ev")
    ).withColumn("n", F.sqrt(_dot("ev", "ev")))
    q = (
        v.where(F.col("vec_id") == MMR_QUERY_ID)
        .select(F.col("ev").alias("qv"), F.col("n").alias("qn"))
    )

    def micro(num, den):
        return F.round(F.lit(1000000.0) * num / den).cast("long")

    rel = (
        v.where(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "ev",
            "n",
            micro(_dot("ev", "qv"), F.col("n") * F.col("qn")).alias("rel_micro"),
        )
    )
    # r12: the candidate cut is 16 rows but its SUBTREE is the full
    # corpus scan + broadcast cosine + top-16 — and the unrolled greedy
    # below references cand (directly and via sim) in EVERY step while
    # each step also nests all previous steps through `selected`, so
    # the final 5-pick union re-planned (and partially re-executed) the
    # corpus subtree a combinatorial number of times (measured 6.8 s at
    # sf0.1 for 16 candidates vs 0.44 s for the full brute-force scan).
    # Eagerly materializing the 16-row cut (and each 1-row pick, below)
    # turns every greedy step into joins over tiny LogicalRDDs: one
    # corpus pass total, identical rows (the cut is deterministic:
    # integer micro-cosine order with vec_id tiebreak). Guide §2.4/§3.3
    # (materialize to truncate a plan the optimizer re-executes).
    cand = (
        rel.orderBy(F.desc("rel_micro"), "vec_id")
        .limit(MMR_CAND)
        .localCheckpoint(eager=True)
    )
    # candidate table is MMR_CAND rows: pairwise sims stay tiny
    a = cand.select(
        F.col("vec_id").alias("ia"),
        F.col("ev").alias("av"),
        F.col("n").alias("an"),
    )
    b = cand.select(
        F.col("vec_id").alias("ib"),
        F.col("ev").alias("bv"),
        F.col("n").alias("bn"),
    )
    sim = (
        a.crossJoin(b)
        .where(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            micro(
                F.expr(
                    "aggregate(zip_with(av, bv, (x, y) -> x * y),"
                    " cast(0.0 as double), (acc, v) -> acc + v)"
                ),
                F.col("an") * F.col("bn"),
            ).alias("sim_micro"),
        )
    )
    cand_slim = cand.select("vec_id", "rel_micro")
    step = (
        cand_slim.select(
            "vec_id",
            "rel_micro",
            (F.lit(MMR_W_REL) * F.col("rel_micro")).cast("long").alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(1)
    )
    # each pick is ONE row; checkpointing it keeps step t's plan a
    # flat join over materialized picks instead of nesting steps
    # 1..t-1 recursively (2^K subplans by step K)
    step = step.localCheckpoint(eager=True)
    picks = [step.withColumn("mmr_rank", F.lit(1).cast("long"))]
    selected = step.select("vec_id")
    for t in range(2, MMR_K + 1):
        pen = (
            sim.join(selected.withColumnRenamed("vec_id", "ib"), "ib")
            .groupBy("ia")
            .agg(F.max("sim_micro").alias("pen"))
        )
        step = (
            cand_slim.join(selected, "vec_id", "left_anti")
            .join(pen, cand_slim.vec_id == pen.ia)
            .select(
                "vec_id",
                "rel_micro",
                (
                    F.lit(MMR_W_REL) * F.col("rel_micro")
                    - F.lit(MMR_W_PEN) * F.col("pen")
                )
                .cast("long")
                .alias("score"),
            )
            .orderBy(F.desc("score"), "vec_id")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(step.withColumn("mmr_rank", F.lit(t).cast("long")))
        selected = selected.unionByName(step.select("vec_id"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select("mmr_rank", "vec_id", "rel_micro", "score")
