"""Job-timeline probe for one pagerank run: how much of the wall is
inside Spark jobs vs driver-side gaps (planning, py4j, checkpoint
bookkeeping)?  Uses the status tracker's job info after the run.

    python tools/r13_iter_timeline.py [--iters 10]
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
    iters = 10
    if "--iters" in sys.argv:
        iters = int(sys.argv[sys.argv.index("--iters") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("erkg-r13-timeline", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    from tools.micro import warm

    warm(spark, sf_dir)

    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.plans.graphq import (
        trade_edges_sym,
        trade_graph_invariants,
    )

    pre = trade_graph_invariants(spark, sf_dir)
    edges = trade_edges_sym(spark, sf_dir)
    # one throwaway run so codegen/broadcast caches are hot
    pagerank(edges, max_iter=2, pre=pre).write.format("noop").mode("overwrite").save()

    jsc = spark.sparkContext._jsc.sc()
    t0 = time.time()
    ranks = pagerank(edges, max_iter=iters, pre=pre)
    ranks.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0

    tracker = jsc.statusStore()
    jobs = []
    it = tracker.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        try:
            sub = j.submissionTime().get().getTime()
            dur = (
                j.completionTime().get().getTime() - sub
                if j.completionTime().isDefined()
                else None
            )
        except Exception:
            sub, dur = None, None
        jobs.append((j.jobId(), sub, dur, j.numTasks()))
    jobs.sort()
    # keep only jobs submitted inside the timed window
    t0ms = (time.time() - wall) * 1000  # approx window start epoch-ms
    recent = [j for j in jobs if j[1] is not None and j[1] >= t0ms - 500]
    injob = sum(j[2] for j in recent if j[2]) / 1000.0
    print(
        "TIMELINE:"
        + json.dumps(
            {
                "wall_sec": round(wall, 3),
                "n_jobs": len(recent),
                "sum_job_sec": round(injob, 3),
                "driver_gap_sec": round(wall - injob, 3),
                "jobs": [
                    {"id": j[0], "ms": j[2], "tasks": j[3]} for j in recent
                ],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
