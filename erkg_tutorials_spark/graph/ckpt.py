"""Rolling eager localCheckpoint for iterative loop state.

Every iterative operator here truncates its per-round lineage with
``localCheckpoint(eager=True)`` — but a localCheckpoint pins its
blocks in the block manager until the JVM garbage-collects the RDD
handle, which for a long session means every round of every past
query accumulates as dead storage (measured: back-to-back PageRank
runs degrade 25-40% as ContextCleaner falls behind). The fix is
structural: once round i+1's checkpoint has materialized, round i's
blocks can never be read again — the new checkpoint IS the state — so
they are released immediately instead of waiting for GC.

``CheckpointChain`` tracks exactly one evolving state variable. The
release is safe by construction: the chain frees only checkpoints it
created for earlier versions of that variable, and only after the
newer version is eagerly materialized. The FINAL checkpoint is never
released (it backs the loop's result). Loop-invariant checkpoints
(edge tables consumed every round) must NOT go through a chain —
checkpoint them directly.

Attribution is per-chain and exact: ``localCheckpoint`` returns a
Dataset whose analyzed plan is the ``LogicalRDD`` wrapping the
checkpointed internal RDD, so the chain reads that RDD's id straight
off the returned DataFrame. No global persistent-RDD-map diff, no
process-wide lock — concurrent chains (and unrelated persists from
other threads, e.g. bench workers materializing caches) can never be
mis-attributed, and independent chains' eager checkpoint jobs overlap
freely. If the plan shape ever stops being a bare LogicalRDD (a Spark
upgrade), extraction fails closed: the chain releases nothing rather
than risk freeing a foreign block (a wrongly-freed localCheckpoint is
unrecoverable — truncated lineage cannot recompute).
"""

from __future__ import annotations

import threading
import warnings

from pyspark.sql import DataFrame

_warned_extraction_failure = False


def _checkpointed_rdd_id(df: DataFrame) -> int | None:
    """Id of the checkpointed RDD backing ``df``, or None.

    After ``localCheckpoint`` the analyzed plan is exactly
    ``org.apache.spark.sql.execution.LogicalRDD(output, rdd, ...)``;
    ``rdd`` is the persisted internal RDD whose blocks the chain owns.

    Failing closed here means only the NEW checkpoint leaks (its id is
    never recorded, so it is never released; previously recorded rounds
    still are) — but a persistent failure (Spark upgrade changing the
    plan shape, or no ``_jdf`` under Spark Connect) silently reinstates
    the 25-40% degradation this module exists to prevent, so the first
    failure emits a one-time warning instead of staying invisible.
    """
    global _warned_extraction_failure
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            return int(plan.rdd().id())
        failure = f"unexpected analyzed-plan shape {plan.getClass().getName()}"
    except Exception as exc:  # e.g. Spark Connect: no _jdf
        failure = repr(exc)
    if not _warned_extraction_failure:
        _warned_extraction_failure = True
        warnings.warn(
            "CheckpointChain could not attribute a localCheckpoint RDD "
            f"({failure}); rolling release is disabled for affected rounds "
            "and their blocks will leak until JVM GC",
            RuntimeWarning,
            stacklevel=3,
        )
    return None


_warned_sever_failure = False


def _sever_origin(df: DataFrame) -> DataFrame:
    """Rebuild a checkpointed DataFrame as a bare LogicalRDD, dropping
    the origin stats/constraints payload ``Dataset.localCheckpoint``
    stores alongside the truncated lineage.

    Measured failure mode (tools/ckpt_blowup_probe.py shape): a loop
    state whose next version references the previous checkpoint TWICE
    (pointer doubling ``p∘p``, PageRank's ``rank ⋈ contrib(rank)``)
    doubles that stored payload per generation — the two references
    re-alias through fresh ExprIds, so the sets never dedupe — and
    ``localCheckpoint`` wall time turns exponential in chain depth:
    flat ~0.1 s/step through ~14 generations, then 0.5 → 1 → 2.5 → 6.3
    → 18 → 56 s with ZERO jobs running (pure driver time between the
    materialization jobs; Spark 4.1.2, REST-confirmed). Wrapping the
    already-materialized internal RDD in a fresh LogicalRDD via
    ``internalCreateDataFrame`` drops the payload: the same 25-deep
    doubling loop stays flat at 0.10 s/step.

    Trade-off: the rebuilt node also loses the checkpoint's output
    partitioning/ordering metadata, so a consumer that could have
    reused the state's partitioning may add an exchange — irrelevant
    for the loop states here, which are re-joined (usually broadcast)
    every round anyway. Fails open: any reflection failure returns the
    original checkpointed frame (correct, just exponential-prone) and
    warns once.
    """
    global _warned_sever_failure
    try:
        jdf = df._jdf
        plan = jdf.queryExecution().analyzed()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            raise ValueError(
                f"unexpected plan shape {plan.getClass().getName()}"
            )
        # wrap the PERSISTED internal RDD itself (plan.rdd()), not
        # queryExecution().toRdd() — the latter is a codegen-derived
        # child whose id the release path could never unpersist
        jdf2 = df.sparkSession._jsparkSession.internalCreateDataFrame(
            plan.rdd(), jdf.schema(), False
        )
        return DataFrame(jdf2, df.sparkSession)
    except Exception as exc:  # e.g. Spark Connect, or a renamed private API
        if not _warned_sever_failure:
            _warned_sever_failure = True
            warnings.warn(
                f"CheckpointChain could not sever checkpoint origin ({exc!r});"
                " iterative loops that reference a checkpoint twice per round"
                " may degrade exponentially past ~14 rounds",
                RuntimeWarning,
                stacklevel=3,
            )
        return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint with the origin payload severed — one
    :class:`CheckpointChain` round without the release."""
    return _sever_origin(df.localCheckpoint(eager=True))


def _unpersist(df: DataFrame, rid: int | None) -> None:
    if rid is not None:
        rdd = df.sparkSession.sparkContext._jsc.getPersistentRDDs().get(rid)
        if rdd is not None:
            rdd.unpersist(False)


def release(df: DataFrame) -> None:
    """Free the blocks backing ``df``: its cache, or the localCheckpoint
    RDD its plan wraps. Only for tables nothing live still reads."""
    if df.is_cached:
        df.unpersist()
    else:
        _unpersist(df, _checkpointed_rdd_id(df))


class CheckpointChain:
    """Eager localCheckpoint that frees the previous round's blocks.

    ``seed``: a :func:`checkpoint` of the loop's initial state that the
    chain takes over — freed when the first round lands, kept if none
    does (it is then the final state).

    Threading contract: a chain tracks ONE evolving loop variable and
    is single-threaded-per-chain by design — every caller here drives
    one chain from one loop thread. The internal lock only keeps the
    release bookkeeping consistent if a chain is ever shared; it does NOT make
    sharing safe: checkpoint + id extraction run outside it, so two
    threads interleaving on one chain could release a checkpoint the
    other thread just received (unrecoverable — truncated lineage).
    Use one chain per concurrent loop instead."""

    def __init__(self, seed: DataFrame | None = None) -> None:
        self._prev = None if seed is None else _checkpointed_rdd_id(seed)
        self._lock = threading.Lock()  # consistency only; see class docstring

    def __call__(self, df: DataFrame) -> DataFrame:
        out = checkpoint(df)
        rid = _checkpointed_rdd_id(out)  # severed: wraps the same RDD
        with self._lock:
            _unpersist(out, self._prev)
            self._prev = rid
        return out
