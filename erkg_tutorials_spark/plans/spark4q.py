"""Spark-4-native surface tier: the engine exercises the two Spark 4
extension APIs that the rest of the registry hasn't needed yet —

* ``variant_props_metrics``: the semi-structured path. ``events.props``
  is a JSON string column; instead of schema-on-write flattening
  (``r2_json_flatten``'s ``from_json`` with a declared struct), this
  query parses it into Spark 4's binary VARIANT type
  (``parse_json``) and extracts typed fields with path expressions
  (``try_variant_get``) — the schema-on-read route for payloads whose
  shape drifts between producers. The reference's pipelines carry
  exactly this kind of loosely-typed record payload
  (``/root/reference/src/senzing_pipeline.py`` JSONL records with
  optional keys), resolved there by dict ``.get`` chains.
* ``udtf_event_runlengths``: a Python user-defined TABLE function
  (``@udtf``) doing per-row imperative expansion — run-length
  encoding of each user's chronological event-type sequence. The
  lateral UDTF is the table-valued sibling of the custom DataSource
  (``sources/pyds.py``): the sanctioned extension point when one
  input row must become a variable number of output rows under
  logic that is genuinely iterative (a sequential scan carrying
  run state), not a relational expression.

Correctness: both queries carry full DuckDB oracles — the VARIANT
extraction against DuckDB's JSON operators, the UDTF against the
classic gaps-and-islands (row_number difference) SQL rewrite, which
proves the imperative RLE agrees with the relational formulation.

Scale notes (100 TB):
- variant_props_metrics: ``parse_json``/``variant_get`` are JVM
  expressions inside whole-stage codegen (no Python boundary, plan
  gate pins it); the aggregate is one partial-agg shuffle keyed on
  the low-cardinality event_type. VARIANT's binary encoding is
  also the column format Spark writes to Parquet for open-ended
  payloads, so at scale the parse cost is paid once at ingest, not
  per query.
- udtf_event_runlengths: the UDTF *is* a Python boundary — that is
  the point of the showcase — but it is entered once per user-row
  (not per event) after a single groupBy shuffle, with the
  per-user sequence bounded by per-user event counts. The RLE
  output is strictly smaller than its input sequence. For
  SQL-expressible cases the native gaps-and-islands plan
  (``events_gaps_islands``) remains the hot path; the UDTF route is
  for logic that does not reduce to window functions.

No reference-file citation for the APIs themselves (the reference has
no table-function or variant concept); the payload semantics mirror
``/root/reference/src/senzing_pipeline.py:152-179`` optional-key
handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.registry import register


@register(
    "variant_props_metrics",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(COUNT(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_distinct,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max,
           CAST(SUM(CASE WHEN props->>'$.retries' IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS missing_retries
    FROM events GROUP BY event_type
    """,
)
def variant_props_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metrics over the semi-structured ``props`` payload via
    VARIANT: parse once, extract ``$.k`` as BIGINT, and count how many
    rows lack an (absent-by-design) ``$.retries`` key —
    ``try_variant_get`` returns NULL for missing paths instead of
    failing, which is the drift-tolerant contract schema-on-read needs.
    """
    ev = load_tables(spark, sf_dir)["events"]
    v = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
        F.try_variant_get(F.parse_json("props"), "$.retries", "bigint").alias("retries"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("k_sum"),
        F.countDistinct("k").alias("k_distinct"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.sum(F.when(F.col("retries").isNull(), 1).otherwise(0)).alias("missing_retries"),
    )


# The UDTF itself: one eval() per user row, sequential scan over that
# user's chronological event types, emitting (run_idx, type, length)
# per maximal constant run. Registered lazily (once per SparkSession)
# under a namespaced function name.
_RLE_UDTF_NAME = "erkg_rle_runs"


def _rle_udtf_class():
    from pyspark.sql.functions import udtf

    @udtf(returnType="run_idx int, event_type string, run_len bigint", useArrow=True)
    class RleRuns:
        def eval(self, types):
            run_idx = 0
            cur = None
            cnt = 0
            for t in list(types or []):
                if t == cur:
                    cnt += 1
                    continue
                if cnt:
                    yield run_idx, cur, cnt
                    run_idx += 1
                cur, cnt = t, 1
            if cnt:
                yield run_idx, cur, cnt

    return RleRuns


@register(
    "udtf_event_runlengths",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rt
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, rn - rt AS grp,
             MIN(rn) AS start_rn, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM seq GROUP BY 1, 2, 3
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_rn) - 1 AS INT)
             AS run_idx,
           event_type, run_len
    FROM runs
    """,
)
def udtf_event_runlengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event-type sequence (ordered
    by event_id) via a lateral Python UDTF; the oracle is the
    equivalent relational gaps-and-islands rewrite, so the imperative
    and declarative formulations are pinned equal.
    """
    spark.udtf.register(_RLE_UDTF_NAME, _rle_udtf_class())
    ev = load_tables(spark, sf_dir)["events"]
    seqs = (
        ev.select("user_id", "event_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
                lambda s: s["event_type"],
            ).alias("types")
        )
    )
    seqs.createOrReplaceTempView("spark4_rle_seqs")
    return spark.sql(
        f"""
        SELECT s.user_id, r.run_idx, r.event_type, r.run_len
        FROM spark4_rle_seqs s, LATERAL {_RLE_UDTF_NAME}(s.types) r
        """
    )


# ---------------------------------------------------------------------------
# Polymorphic UDTF (Spark 4 `analyze()` API): the OUTPUT SCHEMA is
# computed at plan time from the literal n argument — w1..wn columns
# for word n-grams — the table-function polymorphism Spark exposes
# only through the static analyze hook (AnalyzeArgument.value carries
# the foldable literal; non-literal n is rejected at analysis time,
# not at runtime). The registry query pins n=3; the unit tests pin
# that n=2 and n=4 yield different schemas from the SAME function and
# that a non-literal n raises during analysis.
# ---------------------------------------------------------------------------
_NGRAM_UDTF_NAME = "erkg_ngram_cols"
NGRAM_UDTF_N = 3
NGRAM_TOP = 20


def _ngram_udtf_class():
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NgramCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if n.value is None or not isinstance(n.value, int):
                raise ValueError(
                    "erkg_ngram_cols: n must be an integer literal "
                    "(the output schema depends on it)"
                )
            schema = StructType()
            for i in range(1, n.value + 1):
                schema = schema.add(f"w{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(len(toks) - n + 1):
                yield tuple(toks[i : i + n])

    return udtf(NgramCols, useArrow=True)


@register(
    "udtf_dynamic_ngrams",
    f"""
    WITH docs AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS w
      FROM documents WHERE doc_id < 50
    ),
    grams AS (
      SELECT w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
      FROM docs CROSS JOIN unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
    ),
    counted AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n_occ FROM grams GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY n_occ DESC, w1, w2, w3) AS rk
      FROM counted
    )
    SELECT w1, w2, w3, n_occ FROM ranked WHERE rk <= {NGRAM_TOP}
    """,
)
def udtf_dynamic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word trigrams via a polymorphic UDTF whose w1..wn output schema is computed by analyze() from the literal n."""
    from pyspark.sql import Window

    spark.udtf.register(_NGRAM_UDTF_NAME, _ngram_udtf_class())
    docs = (
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id") < 50)
        .select("doc_id", F.lower("text").alias("text"))
    )
    docs.createOrReplaceTempView("spark4_ngram_docs")
    grams = spark.sql(
        f"""
        SELECT g.* FROM spark4_ngram_docs d,
        LATERAL {_NGRAM_UDTF_NAME}(d.text, {NGRAM_UDTF_N}) g
        """
    )
    counted = grams.groupBy("w1", "w2", "w3").agg(
        F.count("*").alias("n_occ")
    )
    w = Window.orderBy(F.desc("n_occ"), "w1", "w2", "w3")
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= NGRAM_TOP)
        .select("w1", "w2", "w3", "n_occ")
    )


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 native WITH RECURSIVE) — iterative reach
# expressed declaratively, no driver-side loop. The hierarchy is the
# deterministic decimal-digit forest over customer keys (parent =
# k div 10, roots = keys < 10), so both engines derive identical
# edges with no auxiliary table. Each recursion level joins the
# previous frontier against the customer scan — the same
# frontier-expansion shape as graph/khop.py, but planned entirely by
# Catalyst's UnionLoop. Depth is bounded by the key width (<= 6
# levels at sf1), far under spark.sql.cteRecursionLevelLimit.
# Scale note: at 100 TB the recursive arm is a per-level equi-join on
# the parent key — broadcast-able frontier, partial-agg rollup; the
# CTE plan is the same physical loop the hand-built khop runs, with
# Spark 4 owning the fixpoint bookkeeping.
# ---------------------------------------------------------------------------
@register(
    "rcte_customer_hierarchy",
    """
    WITH RECURSIVE tree AS (
      SELECT c_custkey AS k, 0 AS depth, c_custkey AS root
      FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, t.depth + 1, t.root
      FROM customer c JOIN tree t ON c.c_custkey // 10 = t.k
      WHERE c.c_custkey >= 10
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
           CAST(SUM(k) AS BIGINT) AS key_sum
    FROM tree GROUP BY depth
    """,
)
def rcte_customer_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE hierarchy walk: per-depth node count, reachable-root count, and exact key sum over the customer digit-forest."""
    tables = load_tables(spark, sf_dir)
    tables["customer"].createOrReplaceTempView("spark4_rcte_customer")
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
          SELECT c_custkey AS k, CAST(0 AS BIGINT) AS depth,
                 c_custkey AS root
          FROM spark4_rcte_customer WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, t.depth + 1, t.root
          FROM spark4_rcte_customer c JOIN tree t
            ON c.c_custkey div 10 = t.k
          WHERE c.c_custkey >= 10
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               COUNT(DISTINCT root) AS n_roots,
               SUM(k) AS key_sum
        FROM tree GROUP BY depth
        """
    )


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.0's |> operator chain — the third
# Spark-4-native surface): the same logical plan a DataFrame chain
# builds, expressed as a linear SQL pipeline. Catalyst compiles pipe
# stages to the identical operators (the plan below is one partial-agg
# shuffle + a TakeOrderedAndProject, exactly like the DataFrame
# version would be), so this is a syntax-surface showcase with a
# standard-SQL oracle proving the semantics.
# ---------------------------------------------------------------------------
@register(
    "pipe_syntax_shipping_rollup",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS gross_cents
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    ORDER BY gross_cents DESC, l_returnflag
    """,
)
def pipe_syntax_shipping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|> WHERE/EXTEND/AGGREGATE/ORDER BY) rollup of high-quantity lineitems per return flag."""
    tables = load_tables(spark, sf_dir)
    tables["lineitem"].createOrReplaceTempView("spark4_pipe_lineitem")
    return spark.sql(
        """
        FROM spark4_pipe_lineitem
        |> WHERE l_quantity >= 25
        |> EXTEND CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
                     SUM(cents) AS gross_cents
           GROUP BY l_returnflag
        |> ORDER BY gross_cents DESC, l_returnflag
        """
    ).select("l_returnflag", "n_items", "total_qty", "gross_cents")
