"""Every registered query matches its DuckDB oracle at sf0.001
(fast twin of the driver's sf0.01 gate)."""

import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tools.check_correctness import compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.sql(ORACLES[name]).df()
    issues = compare(name, spark_pdf, duck_pdf)
    assert not issues, f"{name}: {issues}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"c_mktsegment", "n_customers", "prob"} == set(df.columns)
    # probability distribution sums to ~1
    assert abs(sum(r["prob"] for r in rows) - 1.0) < 1e-4
