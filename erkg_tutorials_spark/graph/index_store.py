"""Persistent graph-index artifacts — the graph tier's sibling of
similarity/index_store.py (r5 VERDICT item 2).

The reference's graph lineage persists its derived graph into Neo4j
and re-reads it across sessions (/root/reference/Readme.md:19,33-36 —
"setup local Neo4j with GDS plugin"; the deleted ``src/neo4j.py``
loader cited at dev.ipynb:7102 (cell 130)). The Spark-native
equivalent: every memoized graph invariant — the distinct trade edge
table, the symmetric-graph vertex/degree tables, the PPR teleport
vector, the canonical co-order edge set and its sorted adjacency
arrays — is an ordinary DataFrame, so the persistence format is
Parquet, one directory per artifact, plus a one-row ``_manifest``
recording the derivation hyperparameters AND the data-derived hub
verdict (so a loaded session constructs the clustering plan with zero
probe jobs).

``save_index`` materializes each artifact from its session memo
(deriving it on first touch) and writes it out; ``load_index`` reads
the Parquet back, verifies the manifest against the current module
constants (a different PPR seed modulus or clustering degree cap would
make loaded state silently inconsistent with fresh derivations — fail
closed), and installs every table into the session memo slot the
cached getters consult. After a load, ``g5_pagerank_top20`` /
``g_ppr_watchlist`` / ``g_clustering_coeff`` / ``g3_two_hop_reach``
all run from the loaded state with zero re-derivation.

Scale notes: verts/degree/teleport are |V|-row tables; the edge tables
are one narrow row per distinct edge, written with the parallelism
they were computed with. ``path`` may be any Hadoop-compatible URI
(s3a://, hdfs://) — everything goes through DataFrameWriter/Reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Artifact name -> lazily cached getter. Names double as the memo keys
# (plans/memo.py) and the sub-directory names under the index path.
ARTIFACTS = (
    "trade_edges_fwd",
    "trade_sym_verts",
    "trade_sym_e_deg",
    "ppr_watchlist_tp",
    "part_coorder_edges",
    "coorder_nbrs",
)

_FORMAT_VERSION = 1


def _getters(spark: SparkSession, sf_dir: str) -> dict:
    from erkg_tutorials_spark.plans import graphq as gq

    return {
        "trade_edges_fwd": lambda: gq.trade_edges_fwd(spark, sf_dir),
        "trade_sym_verts": lambda: gq.trade_graph_invariants(spark, sf_dir)[0],
        "trade_sym_e_deg": lambda: gq.trade_graph_invariants(spark, sf_dir)[1],
        "ppr_watchlist_tp": lambda: gq.ppr_watchlist_tp_cached(spark, sf_dir),
        "part_coorder_edges": lambda: gq.part_coorder_edges(spark, sf_dir),
        "coorder_nbrs": lambda: gq.coorder_nbrs_cached(spark, sf_dir),
    }


def index_params() -> dict:
    """The hyperparameters the persisted state was derived under —
    re-checked on load; a mismatch fails loudly (see module doc)."""
    from erkg_tutorials_spark.plans import graphq as gq

    return {
        "format_version": _FORMAT_VERSION,
        "clustering_deg_cap": gq.CLUSTERING_DEG_CAP,
        "ppr_seed_mod": gq.PPR_SEED_MOD,
    }


def save_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Derive (or reuse the session-memoized) graph invariants and
    persist every artifact as Parquet under ``path``. The manifest
    additionally records the memoized hub-probe verdict so a loading
    session never re-runs the probe job."""
    from erkg_tutorials_spark.plans import graphq as gq

    getters = _getters(spark, sf_dir)
    for name in ARTIFACTS:
        getters[name]().write.mode("overwrite").parquet(f"{path}/{name}")
    manifest = dict(index_params())
    manifest["coorder_has_hubs"] = gq.coorder_has_hubs_cached(spark, sf_dir)
    spark.createDataFrame([manifest]).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/_manifest"
    )


def load_index(spark: SparkSession, sf_dir: str, path: str) -> dict[str, DataFrame]:
    """Load persisted graph-index state and install it into the
    session memo (tables AND the hub-probe scalar).

    Returns {artifact_name: DataFrame}. Raises ValueError if the
    manifest's derivation parameters differ from the current
    constants."""
    from erkg_tutorials_spark.plans import graphq as gq
    from erkg_tutorials_spark.plans.memo import install, install_scalar

    stored = spark.read.parquet(f"{path}/_manifest").first().asDict()
    expected = index_params()
    mismatched = {
        k: (stored.get(k), v) for k, v in expected.items() if stored.get(k) != v
    }
    if mismatched:
        raise ValueError(
            f"persisted graph index at {path!r} was derived under different "
            f"parameters: {mismatched} (stored, expected)"
        )
    loaded = {}
    for name in ARTIFACTS:
        loaded[name] = install(
            spark, sf_dir, name, spark.read.parquet(f"{path}/{name}")
        )
    install_scalar(
        spark,
        sf_dir,
        f"coorder_has_hubs_cap{gq.CLUSTERING_DEG_CAP}",
        bool(stored["coorder_has_hubs"]),
    )
    return loaded
