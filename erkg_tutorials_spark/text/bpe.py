"""In-engine BPE tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909) — the merge-learning loop, distributed.

`text/quality.py::bpe_pretoken_counts` applies a GPT-style
pre-tokenizer; this module learns the merge table itself, the part a
training-data pipeline runs over the whole corpus. Each round:

1. count every adjacent symbol pair, weighted by word frequency
   (exact integer sums);
2. pick the most frequent pair (ties broken lexicographically);
3. merge its occurrences greedily left-to-right in every word.

Step 3 is the subtle one: canonical greedy merging is sequential, but
its only ambiguity is runs of an identical symbol (for a pair (A,B)
with A≠B two occurrences can never overlap — overlap would force
B=A). Greedy-left on a run of L copies of A merges the pairs at even
offsets within the run, floor(L/2) of them. That makes the whole
merge DECLARATIVE: mark position p iff

    sym[p]=A and sym[p+1]=B and (A≠B or run_offset(p) is even)

then rebuild (marked → concat, successor-of-marked → drop). Runs and
offsets are one lag + one running-sum window. Both engines execute
the identical window expressions, so the oracle replays training
bit-for-bit — including the tie-breaks.

Scale shape: the state table is (word, pos, sym) — Σ|word| rows over
the *distinct-word* vocabulary, not the corpus (frequencies are
carried as weights — the standard trick that makes BPE training
corpus-size-independent). Each round is one pair-count aggregation,
a 1-row broadcast of the winning pair (no driver collect), and one
window pass per word. At 100 TB the vocabulary table is still tiny
relative to the corpus; the corpus is touched exactly once, in
``word_freqs``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the corpus's single full pass."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
        )
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _init_state(words: DataFrame) -> DataFrame:
    """(word, freq, pos, sym): one row per character, 1-based pos."""
    return words.select(
        "word",
        "freq",
        F.posexplode(F.split(F.col("word"), "")).alias("pos0", "sym"),
    ).select("word", "freq", (F.col("pos0") + 1).cast("long").alias("pos"), "sym")


def bpe_train(words: DataFrame, n_merges: int) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges over ``words(word, freq)``.

    Returns ``(merges, state)``: merges has one row per learned merge
    ``(step, left, right, pair_count)``; state is the final
    ``(word, freq, pos, sym)`` symbolization.
    """
    from erkg_tutorials_spark.graph.ckpt import checkpoint
    from erkg_tutorials_spark.graph.loop_confs import iterate

    state0 = checkpoint(_init_state(words))
    w_pos = Window.partitionBy("word").orderBy("pos")
    merge_rows: list[DataFrame] = []

    def step(i, state):
        merge_row, next_state = _bpe_round(state, w_pos, i + 1)
        merge_rows.append(merge_row)
        yield next_state

    (state,), _ = iterate(
        step, (state0,), rounds=n_merges, size=state0.count(), owned=(state0,)
    )
    return reduce(DataFrame.unionByName, merge_rows), state


def _bpe_round(
    state: DataFrame, w_pos: Window, step: int
) -> tuple[DataFrame, DataFrame]:
    """One merge round: returns (merge_row, next_state)."""
    nxt = F.lead("sym").over(w_pos)
    pairs = (
        state.withColumn("b", nxt)
        .where(F.col("b").isNotNull())
        .groupBy(F.col("sym").alias("a"), "b")
        .agg(F.sum("freq").alias("cnt"))
    )
    # 1-row table, checkpointed so the merge-row output and the
    # broadcast below share one computation
    # 1-row checkpoint, NOT chained: each round's merge_row output
    # references its best row lazily until the final merges union runs
    best = (
        pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(1)
        .localCheckpoint(eager=True)
    )
    merge_row = (
        best.select(
            F.lit(step).cast("long").alias("step"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )
    )
    marked = (
        state.crossJoin(F.broadcast(best.select("a", "b")))
        .withColumn("nxt", nxt)
        .withColumn("prv", F.lag("sym").over(w_pos))
        .withColumn(
            "run_new",
            (F.col("prv").isNull() | (F.col("prv") != F.col("sym"))).cast("long"),
        )
        .withColumn("run_id", F.sum("run_new").over(w_pos))
        .withColumn(
            "run_off",
            F.row_number().over(
                Window.partitionBy("word", "run_id").orderBy("pos")
            )
            - 1,
        )
        .withColumn(
            "hit",
            (F.col("sym") == F.col("a"))
            & (F.col("nxt") == F.col("b"))
            & ((F.col("a") != F.col("b")) | (F.col("run_off") % 2 == 0)),
        )
        .withColumn("prev_hit", F.coalesce(F.lag("hit").over(w_pos), F.lit(False)))
    )
    next_state = (
        marked.where(~F.col("prev_hit"))
        .select(
            "word",
            "freq",
            F.when(F.col("hit"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
            "pos",
        )
        .withColumn("pos", F.row_number().over(w_pos).cast("long"))
        .select("word", "freq", "pos", "sym")
    )
    return merge_row, next_state


def bpe_iterations_sql(*, n_merges: int) -> str:
    """DuckDB CTE chain replaying :func:`bpe_train` over a
    pre-existing ``words(word, freq)`` CTE. Produces ``best{r}`` (the
    r-th merge with its count) and ``s{n_merges}`` (final state);
    ``merges`` unions every best row."""
    parts = [
        """
    s0 AS MATERIALIZED (
      SELECT word, freq, CAST(i AS BIGINT) AS pos, word[i] AS sym
      FROM words CROSS JOIN unnest(generate_series(1, len(word))) AS t(i)
    )"""
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        parts.append(f"""
    p{r} AS (
      SELECT sym AS a, LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS b, freq
      FROM {prev}
    ),
    c{r} AS (
      SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM p{r} WHERE b IS NOT NULL GROUP BY 1, 2
    ),
    best{r} AS MATERIALIZED (
      SELECT a, b, cnt FROM c{r} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    m{r} AS (
      SELECT s.word, s.freq, s.pos, s.sym,
             LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
             LAG(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS prv,
             bb.a, bb.b
      FROM {prev} s CROSS JOIN best{r} bb
    ),
    r{r} AS (
      SELECT *,
             SUM(CASE WHEN prv IS NULL OR prv <> sym THEN 1 ELSE 0 END)
               OVER (PARTITION BY word ORDER BY pos) AS run_id
      FROM m{r}
    ),
    h{r} AS (
      SELECT *,
             (ROW_NUMBER() OVER (PARTITION BY word, run_id ORDER BY pos) - 1) AS run_off
      FROM r{r}
    ),
    k{r} AS (
      SELECT *,
             (sym = a AND nxt IS NOT NULL AND nxt = b
              AND (a <> b OR run_off % 2 = 0)) AS hit
      FROM h{r}
    ),
    g{r} AS (
      SELECT *,
             COALESCE(LAG(hit) OVER (PARTITION BY word ORDER BY pos), FALSE) AS prev_hit
      FROM k{r}
    ),
    s{r} AS MATERIALIZED (
      SELECT word, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
             CASE WHEN hit THEN sym || nxt ELSE sym END AS sym
      FROM g{r} WHERE NOT prev_hit
    )""")
    union = "\n      UNION ALL\n".join(
        f"      SELECT CAST({r} AS BIGINT) AS step, a AS left_sym, b AS right_sym, cnt AS pair_count FROM best{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append(f"""
    merges AS (
{union}
    )""")
    return ",".join(parts)
