"""Tuned execution window for iterative DataFrame loops —
concurrency-safe via a cloned SparkSession.

Rationale and measurements: graph/pagerank.py docstring (11.3s→4.6s at
sf0.1) — every round of an iterative algorithm re-shuffles known,
shrinking shapes, so AQE's per-round re-planning is pure driver
overhead and its coalescing fights size-derived partitioning. Partial
map-side aggregation keeps skew safe with AQE off.

Round 2 mutated the *session-global* confs and restored them in a
``finally`` — correct alone, but a concurrent query on the same
session would silently execute under loop confs. This version instead
builds the loop plans in a **cloned session** (``spark.newSession()``:
same SparkContext, executors, and cache manager; isolated SQLConf) and
sets AQE/partition confs only there. Loop input tables are carried
into the clone through short-lived global temp views (the one public
cross-session handle); by loop entry they are ``localCheckpoint``-backed,
so the rebound plan is a LogicalRDD resolved at first analysis and the
views can be dropped on exit without invalidating anything derived.

The parent session's confs are never written, so concurrent queries on
it are unaffected — pinned by tests/test_loop_confs_concurrency.py.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

# runtime confs that catalog.py sets on the parent session after
# startup; newSession() only inherits builder-time confs, so these must
# be copied explicitly or clone-side scans would decode differently
_CARRY_CONFS = ("spark.sql.legacy.parquet.nanosAsLong",)


def loop_partitions(n_rows: int) -> int:
    """~1M loop rows per partition, floor 8 (local parallelism),
    ceiling 10k (cluster sanity clamp)."""
    return max(8, min(10_000, -(-n_rows // 1_000_000)))


@contextmanager
def tuned_loop_session(
    spark: SparkSession, n_rows: int
) -> Iterator[tuple[SparkSession, Callable[[DataFrame], DataFrame]]]:
    """Yield ``(loop_session, rebind)`` for an iterative loop body.

    ``loop_session`` has AQE off and shuffle partitions sized for
    ``n_rows`` per-round rows; ``rebind(df)`` re-homes a parent-session
    DataFrame into it.
    """
    clone = spark.newSession()
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone.conf.set("spark.sql.shuffle.partitions", str(loop_partitions(n_rows)))
    for key in _CARRY_CONFS:
        try:
            clone.conf.set(key, spark.conf.get(key))
        except Exception:
            pass  # unset on the parent — leave the clone's default

    views: list[str] = []

    def rebind(df: DataFrame) -> DataFrame:
        name = f"erkg_loop_{uuid.uuid4().hex}"
        df.createOrReplaceGlobalTempView(name)
        views.append(name)
        out = clone.table(f"global_temp.{name}")
        out.schema  # force analysis now: the view may be dropped later
        return out

    try:
        yield clone, rebind
    finally:
        for name in views:
            try:
                spark.catalog.dropGlobalTempView(name)
            except Exception:
                pass
