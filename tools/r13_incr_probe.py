"""Phase probe for g_pagerank_incremental (r12 VERDICT item 1).

Times the three phases separately under the bench warm-up protocol and
records the cached prologue tables' partition counts — the suspected
mechanism is an AQE-coalesced cache freezing a ~1-partition layout that
every downstream stage then reads serially.

    SPARK_GRAFT_CPUS=32 python tools/r13_incr_probe.py [--runs N]

Output: one JSON line per run with phase seconds + partition counts.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from erkg_tutorials_spark.session import get_spark  # noqa: E402


def main() -> None:
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        "erkg-r13-incr-probe", extra_conf={"spark.ui.enabled": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tools.micro import warm

    warm(spark, sf_dir)

    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.plans.graphq import (
        trade_edges_sym,
        trade_graph_invariants,
    )
    from erkg_tutorials_spark.plans.graphq import PR_CUTOFF, PR_BASE_ITERS, PR_DELTA_ITERS, _DatedPre

    for r in range(runs):
        rec: dict = {"run": r, "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32")}
        t0 = time.time()
        spark.sparkContext.setJobDescription("incr-probe: prologue")
        bpre = _DatedPre(spark, sf_dir, PR_CUTOFF)
        # materialize the prologue tables so their cost is attributed here
        n_fwd = bpre._fwd.count()
        n_edeg = bpre.e_deg.count()
        rec["prologue_sec"] = round(time.time() - t0, 3)
        rec["fwd_rows"] = n_fwd
        rec["e_deg_rows"] = n_edeg
        rec["fwd_parts"] = bpre._fwd.rdd.getNumPartitions()
        rec["e_deg_parts"] = bpre.e_deg.rdd.getNumPartitions()
        try:
            rec["danglers_parts"] = bpre.danglers.rdd.getNumPartitions()
        except Exception:
            rec["danglers_parts"] = None

        t1 = time.time()
        spark.sparkContext.setJobDescription("incr-probe: base loop")
        r_base = pagerank(
            bpre.e_deg.select("src", "dst"),
            max_iter=PR_BASE_ITERS,
            pre=bpre.pre(),
            symmetric=True,
        )
        r_base.write.format("noop").mode("overwrite").save()
        rec["base_sec"] = round(time.time() - t1, 3)
        bpre.release()

        t2 = time.time()
        spark.sparkContext.setJobDescription("incr-probe: delta loop")
        ranks = pagerank(
            trade_edges_sym(spark, sf_dir),
            max_iter=PR_DELTA_ITERS,
            pre=trade_graph_invariants(spark, sf_dir),
            init_ranks=r_base,
            symmetric=True,
        )
        out = (
            ranks.select("id", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("id"))
            .limit(20)
        )
        out.write.format("noop").mode("overwrite").save()
        rec["delta_sec"] = round(time.time() - t2, 3)
        rec["total_sec"] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        print("PROBE:" + json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
