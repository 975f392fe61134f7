"""E3 — the reference's composed entity-linking lifecycle as ONE lazy
plan, oracle-gated end-to-end (r6 VERDICT item 2).

Reference pipeline (``/root/reference/dagster_icij/assets.py:111-137``
+ ``/root/reference/src/analysis.py:7-37``): load KB entities/aliases →
``nlp = NER ∘ ann_linker ∘ textrank`` over the doc corpus →
``analyse_el_docs``: top-30 phrases per doc, the distinct
(mention text, kb_id) pairs inside each phrase, and the review filter
on unlinked mentions (``kb_id == ""``).

Spark composition — every stage is an ALREADY-ORACLED registry
operator, chained lazily with no intermediate action:

1. **N3 mentions** — dictionary matches with dominance overlap
   resolution (``phrase_ruler_match`` semantics, same RULER_PATTERNS)
   over the same ``doc_id < 30`` corpus slice the textrank stage uses.
2. **V2 candidates** — distinct mention surface forms fuzzy-matched
   against the KB alias table by char-3-gram Jaccard ≥ V2_THRESHOLD
   (``v2_alias_candidates`` semantics). Surface forms with zero
   candidates are the UNLINKED mentions.
3. **V4 prior + V3/W4 disambiguation** — uniform prior over each
   surface form's candidate set; score = cosine(document context
   embedding, entity embedding) with the same JVM fold
   ``v3_disambiguate`` pinned against ``list_dot_product``; argmax
   per (doc, mention) ordered (score DESC, prior DESC, kb_id).
4. **G5/W1 phrases** — top-30 textrank phrases per doc, byte-shared
   with ``g5_textrank_phrases`` (``coverage.textrank_top30`` /
   ``textrank_top30_cte``).
5. **A3/R1/F6 review** — phrases joined to the mentions they contain
   (phrase token ∈ mention tokens), distinct rows, ``kb_id = ''`` for
   unlinked and ``to_review`` flagging them. The reference's
   ``entities_to_review`` is exactly ``WHERE to_review``; keeping the
   linked rows too puts the WHOLE chain (candidates + disambiguation,
   not just the linked/unlinked verdict) under the value-hash oracle.

Scale notes (100 TB): the dictionary match and n-gram candidate join
shuffle on gram keys (selective, bounded by pattern/KB size — the KB
side broadcasts); disambiguation joins shuffle on doc_id/kb_id longs;
the phrase join's per-doc fan-in is ≤ 30 × mentions-per-doc. The one
iterative stage (textrank's 6 PageRank rounds) checkpoint-chains like
``g5_pagerank_top20``. No stage collects; the composed plan is a
single DAG so Spark reuses the mention scan across the candidate and
review branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.linking.candidates import char_ngrams
from erkg_tutorials_spark.linking.embed import cosine
from erkg_tutorials_spark.plans.registry import register
from erkg_tutorials_spark.text.phrase_match import match_phrases

E3_DOC_BOUND = 30  # same corpus slice as g5_textrank_phrases

# Inline KB (the lifecycle's entities.jsonl/aliases.jsonl stand-in —
# the reference loads these as an external input, assets.py:119-124):
# (kb_id, kb_alias, vec_ref). vec_ref points each entity at its
# embedding row; 100+ keeps them disjoint from the doc context ids.
E3_KB = (
    ("k1", "table scan", 100),
    ("k2", "table scans", 101),
    ("k3", "hash joins", 102),
    ("k4", "sort merge", 103),
    ("k5", "merge sort", 104),
    ("k6", "scan table merge", 105),
)


def _e3_linking_oracle() -> str:
    from erkg_tutorials_spark.plans.coverage import (
        V2_THRESHOLD,
        textrank_top30_cte,
    )
    from erkg_tutorials_spark.plans.textq import RULER_PATTERNS

    pat_vals = ", ".join(f"('{l}', '{p}', '{i}')" for l, p, i in RULER_PATTERNS)
    kb_vals = ", ".join(f"('{k}', '{a}', {v})" for k, a, v in E3_KB)
    # 1/2/3-token grams with positions, over the textrank chain's
    # already-lowered-and-split `docs` CTE (same corpus, zero drift)
    grams = "\nUNION ALL\n".join(
        f"""
        SELECT doc_id, i AS start, {n} AS len,
               concat_ws(' ', {', '.join(f'w[i+{j}]' for j in range(n))}) AS gram
        FROM docs CROSS JOIN unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS t{n}(i)
        """
        for n in (1, 2, 3)
    )
    return (
        textrank_top30_cte()
        + f""",
    rpat(label, pattern, id) AS (VALUES {pat_vals}),
    rgrams AS ({grams}),
    rm AS MATERIALIZED (
      SELECT g.doc_id, g.start, g.len, g.gram
      FROM rgrams g JOIN rpat p ON g.gram = lower(p.pattern)
    ),
    ments AS MATERIALIZED (
      SELECT doc_id, start, len, gram AS alias FROM rm m
      WHERE NOT EXISTS (
        SELECT 1 FROM rm b
        WHERE b.doc_id = m.doc_id
          AND b.start < m.start + m.len AND m.start < b.start + b.len
          AND (b.len > m.len OR (b.len = m.len AND b.start < m.start))
      )
    ),
    surf AS (SELECT DISTINCT alias FROM ments),
    kb(kb_id, kb_alias, vec_ref) AS (VALUES {kb_vals}),
    mgr AS (
      SELECT DISTINCT alias, substring(p, i, 3) AS gram
      FROM (SELECT alias, '^' || lower(trim(alias)) || '$' AS p FROM surf)
      CROSS JOIN unnest(generate_series(1, greatest(length(p) - 2, 1))) AS tm(i)
      WHERE length(substring(p, i, 3)) > 0
    ),
    agr AS (
      SELECT DISTINCT kb_id, substring(p, i, 3) AS gram
      FROM (SELECT kb_id, '^' || lower(trim(kb_alias)) || '$' AS p FROM kb)
      CROSS JOIN unnest(generate_series(1, greatest(length(p) - 2, 1))) AS ta(i)
      WHERE length(substring(p, i, 3)) > 0
    ),
    szm AS (SELECT alias, COUNT(*) AS n_m FROM mgr GROUP BY alias),
    sza AS (SELECT kb_id, COUNT(*) AS n_a FROM agr GROUP BY kb_id),
    inter AS (
      SELECT mgr.alias, agr.kb_id, COUNT(*) AS n_i
      FROM mgr JOIN agr ON mgr.gram = agr.gram
      GROUP BY mgr.alias, agr.kb_id
    ),
    cand0 AS (
      SELECT i.alias, i.kb_id,
             ROUND(n_i / (1.0 * (n_m + n_a - n_i)), 6) AS jaccard
      FROM inter i JOIN szm USING (alias) JOIN sza USING (kb_id)
      WHERE ROUND(n_i / (1.0 * (n_m + n_a - n_i)), 6) >= {V2_THRESHOLD}
    ),
    cand AS (
      SELECT *, ROUND(1.0 / COUNT(*) OVER (PARTITION BY alias), 6) AS prior
      FROM cand0
    ),
    occ AS (SELECT DISTINCT doc_id, alias FROM ments),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
      SELECT o.doc_id, o.alias, c.kb_id, c.prior,
             list_dot_product(mv.emb, ev.emb)
               / (sqrt(list_dot_product(mv.emb, mv.emb))
                  * sqrt(list_dot_product(ev.emb, ev.emb))) AS score
      FROM occ o
      JOIN cand c USING (alias)
      JOIN kb k ON c.kb_id = k.kb_id
      JOIN v mv ON mv.vec_id = o.doc_id
      JOIN v ev ON ev.vec_id = k.vec_ref
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id, alias ORDER BY score DESC, prior DESC, kb_id
      ) AS rn FROM scored
    ),
    links AS (SELECT doc_id, alias, kb_id, score FROM ranked WHERE rn = 1),
    resolved AS (
      SELECT o.doc_id, o.alias,
             COALESCE(l.kb_id, '') AS kb_id,
             ROUND(l.score, 6) AS score
      FROM occ o LEFT JOIN links l ON o.doc_id = l.doc_id AND o.alias = l.alias
    )
    SELECT DISTINCT t.doc_id, t.phrase, t.rank, t.count,
           r.alias AS mention, r.kb_id, r.score,
           (r.kb_id = '') AS to_review
    FROM top30 t JOIN resolved r ON t.doc_id = r.doc_id
      AND list_contains(string_split(r.alias, ' '), t.phrase)
    """
    )


@register("e3_entity_linking", _e3_linking_oracle())
def e3_entity_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed E3 entity-linking lifecycle in one lazy plan: ruler
    mentions → fuzzy KB candidates → cosine disambiguation → top-30
    phrase review with unlinked-mention flags (see module docstring).
    """
    from erkg_tutorials_spark.plans.coverage import (
        V2_THRESHOLD,
        textrank_top30,
    )
    from erkg_tutorials_spark.plans.textq import RULER_PATTERNS

    t = load_tables(spark, sf_dir)
    docs = t["documents"].where(F.col("doc_id") < E3_DOC_BOUND).select(
        "doc_id", "text"
    )

    # 1) N3 — ruler mentions with dominance overlap resolution
    patterns = spark.createDataFrame(
        list(RULER_PATTERNS), ["label", "pattern", "id"]
    )
    mentions = match_phrases(docs, patterns)

    # 2) V2 — fuzzy candidates for each distinct surface form
    surfaces = mentions.select("alias").distinct()
    kb = spark.createDataFrame(list(E3_KB), ["kb_id", "kb_alias", "vec_ref"])
    mg = char_ngrams(surfaces, "alias", "alias")
    ag = char_ngrams(kb.select("kb_id", "kb_alias"), "kb_alias", "kb_id")
    szm = mg.groupBy("id").agg(F.count("*").alias("n_m"))
    sza = ag.groupBy("id").agg(F.count("*").alias("n_a"))
    inter = (
        mg.select(F.col("id").alias("alias"), "gram")
        .join(F.broadcast(ag.select(F.col("id").alias("kb_id"), "gram")), "gram")
        .groupBy("alias", "kb_id")
        .agg(F.count("*").alias("n_i"))
    )
    jac = F.round(
        F.col("n_i") / (F.col("n_m") + F.col("n_a") - F.col("n_i")), 6
    )
    cand = (
        inter.join(szm.withColumnRenamed("id", "alias"), "alias")
        .join(F.broadcast(sza.withColumnRenamed("id", "kb_id")), "kb_id")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= V2_THRESHOLD)
        .select("alias", "kb_id", "jaccard")
    )
    # 3) V4 prior (uniform over the surface form's candidate set)
    cand = cand.withColumn(
        "prior",
        F.round(F.lit(1.0) / F.count("*").over(Window.partitionBy("alias")), 6),
    )

    # V3/W4 — cosine(context, entity) scoring + argmax per mention
    occ = mentions.select("doc_id", "alias").distinct()
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    scored = (
        occ.join(cand, "alias")
        .join(F.broadcast(kb.select("kb_id", "vec_ref")), "kb_id")
        .join(emb.select(F.col("vec_id").alias("doc_id"), F.col("emb").alias("mvec")), "doc_id")
        .join(
            F.broadcast(
                emb.select(F.col("vec_id").alias("vec_ref"), F.col("emb").alias("evec"))
            ),
            "vec_ref",
        )
        .withColumn("score", cosine("mvec", "evec"))
    )
    wA = Window.partitionBy("doc_id", "alias").orderBy(
        F.desc("score"), F.desc("prior"), F.asc("kb_id")
    )
    links = (
        scored.withColumn("_rn", F.row_number().over(wA))
        .where(F.col("_rn") == 1)
        .select("doc_id", "alias", "kb_id", "score")
    )
    resolved = occ.join(links, ["doc_id", "alias"], "left").select(
        "doc_id",
        "alias",
        F.coalesce("kb_id", F.lit("")).alias("kb_id"),
        F.round("score", 6).alias("score"),
    )

    # 4+5) W1 top-30 phrases ⋈ the mentions they contain → review rows
    phrases = textrank_top30(spark, sf_dir)
    return (
        phrases.join(resolved, "doc_id")
        .where(F.array_contains(F.split(F.col("alias"), " "), F.col("phrase")))
        .select(
            "doc_id",
            "phrase",
            "rank",
            "count",
            F.col("alias").alias("mention"),
            "kb_id",
            "score",
            (F.col("kb_id") == "").alias("to_review"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage — the scoring model
# behind the reference's Senzing entity-resolution surface
# (/root/reference/src/senzing_pipeline.py loads Senzing match
# results; FS is the published model that produces such MATCH_LEVEL
# verdicts: Fellegi & Sunter 1969, "A Theory for Record Linkage").
#
# Pipeline shape at 100 TB: blocking keys bound the candidate pair
# space (never an all-pairs join); each comparison vector γ is a cheap
# JVM-side expression; the match weight is a SUM OF LITERAL
# log-likelihood ratios ln(m/u), picked per field by agree/disagree —
# a scan-side projection after one blocked equi-join. Classification
# is a threshold cut, so the whole scorer is one shuffle.
# ---------------------------------------------------------------------------

# Frozen ln(m/u) / ln((1-m)/(1-u)) weights per field (m = P(agree |
# match), u = P(agree | non-match)). Literal doubles shared verbatim
# by the Spark plan and the DuckDB oracle so the 3-term sum is
# bit-identical in both engines.
FS_WEIGHTS = {
    # field: (agreement weight, disagreement weight)
    "ent_num": (4.5, -2.2),  # entity-number edit distance <= 1
    "acctbal": (2.8, -1.1),  # balance within $100
    "balsign": (0.7, -0.9),  # balance sign agreement
}
FS_LINK_T = 4.0  # score >= -> 'link' (entity-number agreement + one corroborating field clears it; all-three = 8.0)
FS_POSSIBLE_T = 1.0  # score >= -> 'possible' (else 'nonlink')
FS_BLOCK_MOD = 20  # blocking: (nationkey, ent_num % FS_BLOCK_MOD)


def _fs_cte() -> str:
    """WITH-chain through ``scored`` (c_custkey, s_suppkey, g_*,
    score) — shared verbatim by the standalone FS oracle and the
    composed ER-merge oracle so the two can never drift."""
    (w1a, w1d), (w2a, w2d), (w3a, w3d) = (
        FS_WEIGHTS["ent_num"],
        FS_WEIGHTS["acctbal"],
        FS_WEIGHTS["balsign"],
    )
    return f"""
    WITH a AS (
      SELECT c_custkey,
             substring(c_name, position('#' IN c_name) + 1, 9) AS num,
             c_nationkey AS nk,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer
    ),
    b AS (
      SELECT s_suppkey,
             substring(s_name, position('#' IN s_name) + 1, 9) AS num,
             s_nationkey AS nk,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS cents
      FROM supplier
    ),
    pairs AS (
      SELECT a.c_custkey, b.s_suppkey,
             CASE WHEN levenshtein(a.num, b.num) <= 1 THEN 1 ELSE 0 END AS g_ent,
             CASE WHEN abs(a.cents - b.cents) <= 10000 THEN 1 ELSE 0 END AS g_bal,
             CASE WHEN (a.cents >= 0) = (b.cents >= 0) THEN 1 ELSE 0 END AS g_sign
      FROM a JOIN b
        ON a.nk = b.nk
       AND CAST(a.num AS BIGINT) % {FS_BLOCK_MOD} = CAST(b.num AS BIGINT) % {FS_BLOCK_MOD}
    ),
    scored AS (
      SELECT c_custkey, s_suppkey, g_ent, g_bal, g_sign,
             ROUND((CASE WHEN g_ent = 1 THEN {w1a!r} ELSE {w1d!r} END)
                 + (CASE WHEN g_bal = 1 THEN {w2a!r} ELSE {w2d!r} END)
                 + (CASE WHEN g_sign = 1 THEN {w3a!r} ELSE {w3d!r} END), 6) AS score
      FROM pairs
    )"""


def _fs_oracle() -> str:
    return (
        _fs_cte()
        + f"""
    SELECT c_custkey, s_suppkey,
           CAST(g_ent AS BIGINT) AS g_ent,
           CAST(g_bal AS BIGINT) AS g_bal,
           CAST(g_sign AS BIGINT) AS g_sign,
           score,
           CASE WHEN score >= {FS_LINK_T!r} THEN 'link'
                WHEN score >= {FS_POSSIBLE_T!r} THEN 'possible'
                ELSE 'nonlink' END AS match_class
    FROM scored
    """
    )


@register("fs_record_linkage", _fs_oracle())
def fs_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record linkage: blocked customer-supplier pairs scored by literal ln(m/u) field weights and threshold-classified."""
    t = load_tables(spark, sf_dir)
    (w1a, w1d), (w2a, w2d), (w3a, w3d) = (
        FS_WEIGHTS["ent_num"],
        FS_WEIGHTS["acctbal"],
        FS_WEIGHTS["balsign"],
    )

    def side(df, key, name, nk, bal, out_key):
        num = F.substring(
            F.substring_index(F.col(name), "#", -1), 1, 9
        ).alias("num")
        return df.select(
            F.col(key).alias(out_key),
            num,
            F.col(nk).alias("nk"),
            F.round(F.col(bal) * 100, 0).cast("bigint").alias("cents"),
        )

    a = side(t["customer"], "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_custkey")
    b = side(t["supplier"], "s_suppkey", "s_name", "s_nationkey", "s_acctbal", "s_suppkey")
    blk = lambda d: d.withColumn(  # noqa: E731
        "blk", F.col("num").cast("bigint") % FS_BLOCK_MOD
    )
    # supplier side is dim-sized: broadcast the blocked build side
    pairs = (
        blk(a)
        .withColumnRenamed("blk", "ablk")
        .join(
            F.broadcast(
                blk(b).select(
                    "s_suppkey",
                    F.col("num").alias("bnum"),
                    F.col("nk").alias("bnk"),
                    F.col("cents").alias("bcents"),
                    F.col("blk").alias("bblk"),
                )
            ),
            on=[F.col("nk") == F.col("bnk"), F.col("ablk") == F.col("bblk")],
        )
    )
    g_ent = (F.levenshtein("num", "bnum") <= 1).cast("int")
    g_bal = (F.abs(F.col("cents") - F.col("bcents")) <= 10000).cast("int")
    g_sign = ((F.col("cents") >= 0) == (F.col("bcents") >= 0)).cast("int")
    scored = pairs.select(
        "c_custkey",
        "s_suppkey",
        g_ent.alias("g_ent"),
        g_bal.alias("g_bal"),
        g_sign.alias("g_sign"),
    ).withColumn(
        "score",
        F.round(
            F.when(F.col("g_ent") == 1, F.lit(w1a)).otherwise(F.lit(w1d))
            + F.when(F.col("g_bal") == 1, F.lit(w2a)).otherwise(F.lit(w2d))
            + F.when(F.col("g_sign") == 1, F.lit(w3a)).otherwise(F.lit(w3d)),
            6,
        ),
    )
    return scored.select(
        "c_custkey",
        "s_suppkey",
        F.col("g_ent").cast("bigint").alias("g_ent"),
        F.col("g_bal").cast("bigint").alias("g_bal"),
        F.col("g_sign").cast("bigint").alias("g_sign"),
        "score",
        F.when(F.col("score") >= FS_LINK_T, "link")
        .when(F.col("score") >= FS_POSSIBLE_T, "possible")
        .otherwise("nonlink")
        .alias("match_class"),
    )


# ---------------------------------------------------------------------------
# ER lifecycle composition: FS 'link' pairs → transitive closure
# (large-star/small-star connected components) → one GOLDEN RECORD
# per resolved entity cluster. This is the "resolve" step the
# reference consumes pre-computed from Senzing (RES_ENT ids in
# /root/reference/src/senzing_pipeline.py — Senzing's resolved-entity
# id IS this transitive merge); here the whole lifecycle runs inside
# the engine. The oracle chains the FS CTE into ER_CC_ROUNDS unrolled
# min-label-propagation rounds (oracle_pr.cc_label_prop_sql) — the
# Spark side's star fixpoint raises on non-convergence, and an
# insufficient oracle bound surfaces as a hash mismatch.
#
# Scale shape: the link pair set is blocking-bounded (far smaller
# than either input table); CC runs on it, not the raw records; the
# golden-record aggregation is one groupBy over cluster-sized data.
# ---------------------------------------------------------------------------
ER_CC_ROUNDS = 12


def _er_merge_oracle() -> str:
    from erkg_tutorials_spark.plans.oracle_pr import cc_label_prop_sql

    return (
        _fs_cte()
        + f""",
    links AS (
      SELECT c_custkey, s_suppkey FROM scored WHERE score >= {FS_LINK_T!r}
    ),
    cedges AS (
      SELECT 'c:' || c_custkey AS src, 's:' || s_suppkey AS dst FROM links
    ),
    edges AS (
      SELECT src, dst FROM cedges
      UNION ALL SELECT dst AS src, src AS dst FROM cedges
    ),
    verts AS (
      SELECT DISTINCT src AS id FROM edges
    ),
    """
        + cc_label_prop_sql(rounds=ER_CC_ROUNDS)
        + f"""
    SELECT lbl AS entity_id,
           CAST(SUM(CASE WHEN id LIKE 'c:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN id LIKE 's:%' THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
           CAST(MIN(CASE WHEN id LIKE 'c:%' THEN CAST(substring(id, 3) AS BIGINT) END) AS BIGINT) AS golden_custkey,
           CAST(MIN(CASE WHEN id LIKE 's:%' THEN CAST(substring(id, 3) AS BIGINT) END) AS BIGINT) AS golden_suppkey
    FROM l{ER_CC_ROUNDS}
    GROUP BY lbl
    """
    )


@register("er_resolve_merge", _er_merge_oracle())
def er_resolve_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved-entity golden records: FS link pairs transitively merged by connected components with per-cluster membership stats."""
    from erkg_tutorials_spark.graph.connected_components import (
        connected_components,
    )

    links = fs_record_linkage(spark, sf_dir).where(
        F.col("match_class") == "link"
    )
    # bipartite and canonical by construction: every 'c:…' < 's:…'
    edges = links.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("s_suppkey")).alias("dst"),
    ).distinct()
    cc = connected_components(edges, input_canonical=True)
    is_c = F.col("id").startswith("c:")
    key = F.substring(F.col("id"), 3, 18).cast("bigint")
    return cc.groupBy(F.col("component").alias("entity_id")).agg(
        F.sum(is_c.cast("long")).alias("n_customers"),
        F.sum((~is_c).cast("long")).alias("n_suppliers"),
        F.min(F.when(is_c, key)).alias("golden_custkey"),
        F.min(F.when(~is_c, key)).alias("golden_suppkey"),
    )


# ---------------------------------------------------------------------------
# Blocking-quality audit for the record-linkage pipeline (Christen
# 2012's standard metrics, public textbook): pairs completeness
# PC = |M ∩ C| / |M| (how many TRUE matches the blocking keeps) and
# reduction ratio RR = 1 − |C| / (|A|·|B|) (how much of the cross
# product it prunes), reported for the production FS blocking scheme
# (nation, ent_num % FS_BLOCK_MOD) next to a plausible-but-weak
# alternative (nation, $2000 balance band). The ground truth on this
# fixture is exact record-number equality — the signal the FS scorer
# is built around (fs_record_linkage above).
#
# Scale: |C| is NEVER materialized — per-block side counts join on
# the block key (supplier side is dim-sized, broadcast) and Σ nₐ·n_b
# gives the candidate count; the caught-matches join is keyed on the
# record number, so the work tracks |M|, not |A|×|B|.
# ---------------------------------------------------------------------------
BQ_BAND_CENTS = 200_000


def _bq_oracle() -> str:
    return f"""
    WITH a AS (
      SELECT c_custkey,
             CAST(substring(c_name, position('#' IN c_name) + 1, 9)
                  AS BIGINT) AS num,
             c_nationkey AS nk,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer
    ),
    b AS (
      SELECT s_suppkey,
             CAST(substring(s_name, position('#' IN s_name) + 1, 9)
                  AS BIGINT) AS num,
             s_nationkey AS nk,
             CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS cents
      FROM supplier
    ),
    tot AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a)
           * (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS total_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM a JOIN b ON a.num = b.num) AS n_true
    ),
    akeys AS (
      SELECT 'nk_mod' AS scheme, nk, num % {FS_BLOCK_MOD} AS k2,
             CAST(COUNT(*) AS BIGINT) AS na
      FROM a GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'nk_balband', nk, cents // {BQ_BAND_CENTS},
             CAST(COUNT(*) AS BIGINT)
      FROM a GROUP BY 1, 2, 3
    ),
    bkeys AS (
      SELECT 'nk_mod' AS scheme, nk, num % {FS_BLOCK_MOD} AS k2,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM b GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'nk_balband', nk, cents // {BQ_BAND_CENTS},
             CAST(COUNT(*) AS BIGINT)
      FROM b GROUP BY 1, 2, 3
    ),
    cand AS (
      SELECT ak.scheme, CAST(SUM(ak.na * bk.nb) AS BIGINT) AS n_candidates
      FROM akeys ak JOIN bkeys bk
        ON bk.scheme = ak.scheme AND bk.nk = ak.nk AND bk.k2 = ak.k2
      GROUP BY 1
    ),
    caught AS (
      SELECT s.scheme, CAST(COUNT(*) AS BIGINT) AS n_caught
      FROM (
        SELECT 'nk_mod' AS scheme, a.num
        FROM a JOIN b ON a.num = b.num
         AND a.nk = b.nk AND a.num % {FS_BLOCK_MOD} = b.num % {FS_BLOCK_MOD}
        UNION ALL
        SELECT 'nk_balband', a.num
        FROM a JOIN b ON a.num = b.num
         AND a.nk = b.nk
         AND a.cents // {BQ_BAND_CENTS} = b.cents // {BQ_BAND_CENTS}
      ) s GROUP BY 1
    )
    SELECT c.scheme, c.n_candidates,
           t.n_true, COALESCE(g.n_caught, 0) AS n_caught, t.total_pairs,
           CAST(ROUND(COALESCE(g.n_caught, 0) * 1000000.0 / t.n_true, 0)
                AS BIGINT) AS pc_ppm,
           CAST(ROUND((t.total_pairs - c.n_candidates) * 1000000.0
                / t.total_pairs, 0) AS BIGINT) AS rr_ppm
    FROM cand c LEFT JOIN caught g ON g.scheme = c.scheme CROSS JOIN tot t
    """


@register("er_blocking_quality", _bq_oracle())
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for record linkage: pairs completeness and reduction ratio (ppm) of the FS blocking scheme vs a balance-band alternative."""
    t = load_tables(spark, sf_dir)

    def side(df, name, nk, bal):
        return df.select(
            F.substring(F.substring_index(F.col(name), "#", -1), 1, 9)
            .cast("bigint")
            .alias("num"),
            F.col(nk).alias("nk"),
            F.round(F.col(bal) * 100, 0).cast("bigint").alias("cents"),
        )

    a = side(t["customer"], "c_name", "c_nationkey", "c_acctbal")
    b = side(t["supplier"], "s_name", "s_nationkey", "s_acctbal")
    # truncation toward zero matches DuckDB `//` on the possibly-
    # negative band key — same device as the k-anonymity gate
    band = lambda c: (c / F.lit(BQ_BAND_CENTS)).cast("bigint")  # noqa: E731

    def keys(df, tag):
        base = df.select(
            "nk",
            (F.col("num") % FS_BLOCK_MOD).alias("mod_k"),
            band(F.col("cents")).alias("band_k"),
        )
        m = base.groupBy("nk", F.col("mod_k").alias("k2")).agg(
            F.count("*").cast("long").alias(tag)
        ).withColumn("scheme", F.lit("nk_mod"))
        v = base.groupBy("nk", F.col("band_k").alias("k2")).agg(
            F.count("*").cast("long").alias(tag)
        ).withColumn("scheme", F.lit("nk_balband"))
        return m.unionByName(v)

    cand = (
        keys(a, "na")
        .join(F.broadcast(keys(b, "nb")), ["scheme", "nk", "k2"])
        .groupBy("scheme")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long")
             .alias("n_candidates"))
    )
    tot = (
        a.agg(F.count("*").cast("long").alias("n_a"))
        .crossJoin(b.agg(F.count("*").cast("long").alias("n_b")))
        .select((F.col("n_a") * F.col("n_b")).alias("total_pairs"))
    )
    # ground truth: exact record-number equality (supplier side is
    # dim-sized -> broadcast hash join keyed on num)
    m = a.select(
        F.col("num").alias("anum"), F.col("nk").alias("ank"),
        F.col("cents").alias("acents"),
    ).join(
        F.broadcast(
            b.select(
                F.col("num").alias("bnum"), F.col("nk").alias("bnk"),
                F.col("cents").alias("bcents"),
            )
        ),
        F.col("anum") == F.col("bnum"),
    )
    n_true = m.agg(F.count("*").cast("long").alias("n_true"))
    c_mod = m.where(
        (F.col("ank") == F.col("bnk"))
        & (F.col("anum") % FS_BLOCK_MOD == F.col("bnum") % FS_BLOCK_MOD)
    ).agg(F.count("*").cast("long").alias("n_caught")).withColumn(
        "scheme", F.lit("nk_mod")
    )
    c_band = m.where(
        (F.col("ank") == F.col("bnk"))
        & (band(F.col("acents")) == band(F.col("bcents")))
    ).agg(F.count("*").cast("long").alias("n_caught")).withColumn(
        "scheme", F.lit("nk_balband")
    )
    caught = c_mod.unionByName(c_band)
    return (
        cand.join(F.broadcast(caught), "scheme", "left")
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(tot))
        .select(
            "scheme",
            "n_candidates",
            "n_true",
            F.coalesce("n_caught", F.lit(0).cast("long")).alias("n_caught"),
            "total_pairs",
            F.round(
                F.coalesce("n_caught", F.lit(0).cast("long"))
                * 1000000.0 / F.col("n_true"), 0,
            ).cast("long").alias("pc_ppm"),
            F.round(
                (F.col("total_pairs") - F.col("n_candidates"))
                * 1000000.0 / F.col("total_pairs"), 0,
            ).cast("long").alias("rr_ppm"),
        )
    )
