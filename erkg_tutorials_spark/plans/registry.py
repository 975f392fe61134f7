"""The query registry: every implemented operator's query and its
DuckDB oracle twin (driver contract, see ``__spark_entry__.py``).

Plan modules decorate each query with ``@register(name, oracle)``.
The family imports at the bottom run those decorators, so ``QUERIES``
lists the queries in first-import order.
"""

from __future__ import annotations

QUERIES: dict = {}
ORACLES: dict = {}


def register(name: str, oracle: str):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


from erkg_tutorials_spark.plans import (  # noqa: E402  (modules register on import)
    analytics,
    coverage,
    eventsq,
    graphq,
    lakeops,
    lifecycle,
    linkingq,
    llmops,
    mediaq,
    privacyq,
    ragops,
    relational,
    scale,
    spark4q,
    streamq,
    temporal,
    textq,
    vectorq,
)
