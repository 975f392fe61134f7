"""The one runtime for iterative DataFrame loops: :func:`iterate`.

The tuned confs live on a **cloned session** (``spark.newSession()``:
same SparkContext, executors and cache manager; isolated SQLConf), so
a concurrent query on the caller's session never runs under loop
confs. Loop input tables are carried into the clone through
short-lived global temp views (the one public cross-session handle);
they read checkpoint- or cache-backed tables, so the rebound plan is
resolved at first analysis and the views can be dropped on exit
without invalidating anything derived. Pinned by
tests/test_loop_confs_concurrency.py.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession

from erkg_tutorials_spark.graph.ckpt import CheckpointChain, release

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
            _drop_view(spark, name)


def _drop_view(spark: SparkSession, name: str) -> None:
    """Drop a rebind view without uncaching the table it shows (the
    public ``dropGlobalTempView`` uncaches it: a rebound memo table
    would lose its cache). Falls back to the public drop."""
    try:
        spark._jsparkSession.sessionState().catalog().dropGlobalTempView(name)
    except Exception:
        try:
            spark.catalog.dropGlobalTempView(name)
        except Exception:
            pass


def _holds(dfs: Sequence[DataFrame], df: DataFrame) -> bool:
    return any(d is df for d in dfs)


def iterate(
    step: Callable[..., Iterator[DataFrame]],
    state: Sequence[DataFrame],
    invariants: Sequence[DataFrame] = (),
    *,
    rounds: int,
    size: int,
    until: Callable[..., bool] | None = None,
    owned: Sequence[DataFrame] = (),
) -> tuple[tuple[DataFrame, ...], bool]:
    """Run up to ``rounds`` rounds of ``step`` in the tuned loop session.

    Loop confs (measured 11.3 s → 4.6 s on the sf0.1 trade-graph
    PageRank): AQE is off and the shuffle partition count derives from
    ``size``, the per-round row count (:func:`loop_partitions`). Every
    round re-shuffles the same known, shrinking shapes, so AQE's
    per-round re-planning is pure driver overhead and its coalescing
    fights the size-derived partitioning; skew stays safe because the
    per-round shuffles are aggregations that combine map-side.

    ``state`` and ``invariants`` are rebound into the loop session.
    Round ``i`` runs the generator ``step(i, *state, *invariants)``: it
    yields the next value of each state slot in slot order and is sent
    back its eager checkpoint, taken through the slot's own
    :class:`CheckpointChain`. A step that returns before yielding every
    slot stops the loop. ``until(i, *state)``, ``i`` the rounds done, is
    checked before the first round and after each one.

    ``owned``: tables this call cached or checkpointed for the loop. An
    owned initial state slot is handed to its chain; every other owned
    table is freed on exit, so the result must not read it.

    Returns ``(final_state, converged)``: converged is True when
    ``until`` held or ``step`` stopped the loop.
    """
    initial = tuple(state)
    # a table several slots start from is handed to the last of them,
    # the one checkpointed after every read of it in round 0
    chains = [
        CheckpointChain(
            df if _holds(owned, df) and not _holds(initial[k + 1 :], df) else None
        )
        for k, df in enumerate(initial)
    ]
    try:
        with tuned_loop_session(initial[0].sparkSession, size) as (_loop, rebind):
            state = tuple(rebind(df) for df in initial)
            invariants = tuple(rebind(df) for df in invariants)
            for i in range(rounds + 1):
                if until is not None and until(i, *state):
                    return state, True
                if i == rounds:
                    return state, False
                state, advanced = _round(step(i, *state, *invariants), state, chains)
                if not advanced:
                    return state, True
    finally:
        for df in owned:
            if not _holds(initial, df):
                release(df)


def _round(gen, state, chains) -> tuple[tuple[DataFrame, ...], bool]:
    """Drive one step: checkpoint each yielded slot through its chain and
    send the checkpoint back. Returns the new state and whether every
    slot advanced."""
    new, k = list(state), 0
    try:
        df = next(gen)
        while True:
            new[k] = chains[k](df)
            k += 1
            df = gen.send(new[k - 1])
    except StopIteration:
        return tuple(new), k == len(chains)
