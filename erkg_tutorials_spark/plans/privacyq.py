"""Privacy-release surface: differentially-private noisy counts and
an l-diversity audit — the release-side companions to the
k-anonymity gate (plans/analytics.py::kanonymity_violations) and the
pii_mask_customers step. A training-data pipeline that publishes
corpus statistics (per-slice counts, ingest volumes) needs a DP
release mechanism and an attribute-disclosure audit next to the
re-identification one; both are first-class, oracle-gated queries
here. Reference analogue: the tutorials' governed-release framing of
the Senzing exports (/root/reference/Readme.md) — extended, like the
rest of this tier, to the LLM-pipeline surface.

The DP mechanism is the GEOMETRIC (discrete Laplace) mechanism
(Ghosh, Roughgarden & Sundararajan 2009, public paper): noise
Z = G1 − G2 with G1, G2 iid Geometric(1/2) gives the two-sided
geometric distribution P(Z=z) ∝ α^|z| with α = 1/2, i.e. ε = ln 2
per unit-sensitivity count. Sampling is EXACT-INTEGER end to end —
no transcendental inverse CDF: a geometric(1/2) draw is the number
of leading zero bits of a uniform 60-bit integer, computed as
``60 − length(bin(u))`` from a seeded md5 draw, identical in Spark
and DuckDB (the u = 0 edge, probability 2^-60, folds into g = 59;
documented bias far below any statistical relevance). Derandomized
by hashing the group key — the same device node2vec/MIS use — so the
"noise" is deterministic per key and the oracle hash-matches. A
production release would hash a secret salt instead of a public
constant; the mechanism and its exactness are unchanged.

Scale: one map-side-combinable groupBy over the raw events plus
per-row hash arithmetic on the tiny grouped table. No shuffle beyond
the count's own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.functions.exact_math import money_cents
from erkg_tutorials_spark.plans.registry import register


def _geom_draw_spark(salt: str, key):
    """Geometric(1/2) draw: leading-zero count of a 60-bit md5 draw."""
    u = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 15), 16, 10
    ).cast("long")
    return (F.lit(60) - F.length(F.bin(u))).cast("long")


def _geom_draw_sql(salt: str, key: str) -> str:
    return (
        f"(60 - length(bin(CAST('0x' || "
        f"substr(md5('{salt}' || {key}), 1, 15) AS BIGINT))))"
    )


@register(
    "dp_noisy_counts",
    f"""
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events GROUP BY 1, 2
    ),
    keyed AS (
      SELECT *, event_type || ':' || day AS k FROM d
    )
    SELECT event_type, day, n_true,
           CAST({_geom_draw_sql('dp1:', 'k')}
              - {_geom_draw_sql('dp2:', 'k')} AS BIGINT) AS noise,
           n_true + CAST({_geom_draw_sql('dp1:', 'k')}
              - {_geom_draw_sql('dp2:', 'k')} AS BIGINT) AS n_noisy
    FROM keyed
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-type daily event counts via the exact-integer geometric mechanism (two-sided geometric noise, alpha=1/2, eps=ln 2)."""
    t = load_tables(spark, sf_dir)
    d = (
        t["events"]
        .groupBy("event_type", F.expr("ts_sec div 86400").alias("day"))
        .agg(F.count("*").cast("long").alias("n_true"))
    )
    k = F.concat(F.col("event_type"), F.lit(":"), F.col("day"))
    noise = _geom_draw_spark("dp1:", k) - _geom_draw_spark("dp2:", k)
    return d.select(
        "event_type",
        "day",
        "n_true",
        noise.alias("noise"),
        (F.col("n_true") + noise).alias("n_noisy"),
    )


# ---------------------------------------------------------------------------
# l-diversity audit (Machanavajjhala et al. 2007, public paper): the
# attribute-disclosure complement to k-anonymity. A quasi-identifier
# class can be large (k-anonymous) yet expose its members' sensitive
# attribute if that attribute is near-constant within the class —
# here quasi-identifiers (nation, balance band) against the sensitive
# market segment. Classes with fewer than L distinct sensitive values
# are flagged. Same banding constants as the k-anonymity gate so the
# two audits read the same class grid; one groupBy, scale-trivial.
# ---------------------------------------------------------------------------
LDIV_L = 3
LDIV_BAND_CENTS = 200_000  # same $2000 bands as KANON_BAND_CENTS


@register(
    "l_diversity_audit",
    f"""
    WITH classes AS (
      SELECT c_nationkey AS nationkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) // {LDIV_BAND_CENTS}
               AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT)
               AS distinct_sensitive
      FROM customer
      GROUP BY 1, 2
    )
    SELECT nationkey, bal_band, class_size, distinct_sensitive
    FROM classes WHERE distinct_sensitive < {LDIV_L}
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: (nation, balance band) classes whose sensitive market segment takes fewer than L distinct values (attribute-disclosure risk)."""
    c = load_tables(spark, sf_dir)["customer"]
    classes = (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            # truncation toward zero on both sides, as in the
            # k-anonymity gate (DuckDB `//` truncates; cast(bigint)
            # of the double quotient truncates the same way)
            (money_cents(F.col("c_acctbal")) / F.lit(LDIV_BAND_CENTS))
            .cast("bigint")
            .alias("bal_band"),
            "c_mktsegment",
        )
        .groupBy("nationkey", "bal_band")
        .agg(
            F.count("*").alias("class_size"),
            F.countDistinct("c_mktsegment").alias("distinct_sensitive"),
        )
    )
    return classes.where(F.col("distinct_sensitive") < LDIV_L)
