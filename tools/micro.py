"""Microbench: time individual registry queries
under the bench.py steady-state conventions (shared views warmed,
best-of-N, noop sink) and optionally dump their .explain("formatted")
plans to plans/micro/.

    python tools/micro.py [--runs N] [--plans SUFFIX] [--no-warm] query ...

--plans before|after  writes plans/micro/<query>_<suffix>.txt for each
                      query, for before/after plan diffs.
--no-warm             skip the shared-materialization warm-up (for
                      queries that must be timed cold).

Output: one JSON line {"queries": {name: best_sec}, "spread": {...}}.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from erkg_tutorials_spark.session import get_spark  # noqa: E402
from erkg_tutorials_spark.plans.registry import QUERIES  # noqa: E402


def warm(spark, sf_dir: str) -> None:
    """The bench.py warm-up protocol: table scans + shared memo chains."""
    from concurrent.futures import ThreadPoolExecutor

    from erkg_tutorials_spark.catalog import TABLES, load_tables
    from erkg_tutorials_spark.plans.graphq import (
        coorder_nbrs_cached,
        part_coorder_edges,
        ppr_watchlist_tp_cached,
        trade_edges_fwd,
        trade_graph_invariants,
    )
    from erkg_tutorials_spark.plans.graphq import ensure_prbase
    from erkg_tutorials_spark.plans.textq import minhash_pairs_cached
    from erkg_tutorials_spark.plans.vectorq import (
        ivf_centroids_cached,
        pq_codes_cached,
    )

    spark.range(1000).selectExpr("sum(id)").collect()
    cat = load_tables(spark, sf_dir)
    for t in TABLES:
        cat[t].count()

    def _graph_chain() -> None:
        trade_edges_fwd(spark, sf_dir).count()
        invs = trade_graph_invariants(spark, sf_dir)
        with ThreadPoolExecutor(3) as inner:
            list(inner.map(lambda df: df.count(), invs))
        ppr_watchlist_tp_cached(spark, sf_dir).count()

    def _coorder_chain() -> None:
        part_coorder_edges(spark, sf_dir).count()
        coorder_nbrs_cached(spark, sf_dir).count()

    chains = [
        _graph_chain,
        _coorder_chain,
        lambda: minhash_pairs_cached(spark, sf_dir).count(),
        lambda: ivf_centroids_cached(spark, sf_dir).count(),
        lambda: pq_codes_cached(spark, sf_dir).count(),
        lambda: ensure_prbase(spark, sf_dir),
    ]
    with ThreadPoolExecutor(len(chains)) as pool:
        for f in [pool.submit(c) for c in chains]:
            f.result()


def main() -> None:
    args = sys.argv[1:]
    runs = 2
    plans_suffix = None
    do_warm = True
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--plans":
            plans_suffix = args[i + 1]; i += 2
        elif a == "--no-warm":
            do_warm = False; i += 1
        else:
            names.append(a); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "erkg-micro",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.ui.retainedExecutions": "10",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if do_warm:
        warm(spark, sf_dir)

    plans_dir = os.path.join(REPO, "plans", "micro")
    if plans_suffix:
        os.makedirs(plans_dir, exist_ok=True)

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        rs = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"micro:{name}#{r}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            rs.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(min(rs), 3)
        spread[name] = [round(x, 3) for x in rs]
        if plans_suffix:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(
                os.path.join(plans_dir, f"{name}_{plans_suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
    print(json.dumps({"queries": timings, "spread": spread}))
    spark.stop()


if __name__ == "__main__":
    main()
