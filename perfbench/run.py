"""Benchmark of erkg_tutorials_spark on local[nproc] from one process.

    python3 perfbench/run.py --workload erkg_pipeline --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. It makes the workload's inputs
from ``--seed`` under ``.perfbench_work/`` (removed on exit), starts a
Spark session, sets up, and runs passes of the workload's operations
until ``--seconds`` have been measured (at least one pass). There is no
warm-up pass: a run is one Spark application, and each operation's
first execution in it is measured, as a batch job or a new analytics
session meets it. Every output is checked after its pass, outside the
timed region; a failing operation is recorded and the run goes on.

Standard output ends with two JSON lines: a report (run identity,
every metric by name and unit, per-operation medians, failures) and
the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the result's metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics read from Spark's status
store around each call the benchmark makes into the program.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench.tracing import Tracer, layer_metrics  # noqa: E402
from perfbench.workloads import LAYERS, ErkgPipeline, RegistryMix  # noqa: E402

WORKLOADS = ("erkg_pipeline", "registry_mix")
DRIVER_MEM = "3g"
# stop starting passes this long after the process began, so a slow
# host still ends the run inside its time limit
DEADLINE_S = 140.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _identity(args) -> dict:
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "erkg_tutorials_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as fh:
            digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "cores": _cores(),
        "trace": bool(args.trace),
        "git_commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "seconds": args.seconds,
        "sf": args.sf,
        "entities": args.entities,
    }


def _spark_env(work_dir: str) -> dict:
    """Environment and conf that keep every file Spark, its JVMs and
    Python write inside the work directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # every JVM, the launcher too: temp files here, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }


def _start_session(conf: dict):
    from erkg_tutorials_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _revive(spark, conf: dict):
    """A fresh session after the JVM died: reap the old JVM and reset
    PySpark's gateway so a new JVM launches."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        _stop(spark)
    except Exception:
        pass
    with SparkContext._lock:
        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    return _start_session(conf)


def _stop(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _storage(spark) -> tuple[float, int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / float(1 << 20)
    return mb, len(infos)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01, help="registry table scale factor")
    p.add_argument("--entities", type=int, default=5000, help="Senzing report size")
    p.add_argument("--docs", type=int, default=500, help="article count")
    args = p.parse_args(argv)
    t_process = time.time()

    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    try:
        return _run(args, work_dir, t_process)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only when no other run is using it


def _run(args, work_dir: str, t_process: float) -> int:
    if args.workload == "registry_mix":
        wl = RegistryMix(work_dir, args.seed, args.sf)
    else:
        wl = ErkgPipeline(work_dir, args.seed, args.entities, args.docs)
    t0 = time.time()
    wl.prepare()
    prepare_s = time.time() - t0

    conf = _spark_env(work_dir)
    tracer = Tracer(bool(args.trace))
    with tracer.span("setup", "setup") as setup:
        with tracer.span("session.start", "setup") as s_start:
            spark = _start_session(conf)
        tracer.spark = spark
        with tracer.span("catalog.load", "setup") as s_cat:
            wl.load_catalog(spark)
        with tracer.span("plans.memo.build", "setup") as s_memo:
            wl.build_memos(spark, tracer)
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    jvm_pids = {_jvm_pid(spark)}

    attempted, failures, op_times = 0, [], {}
    pass_walls, pass_ids, unattributed, storage = [], [], [], []
    index = 0
    while True:
        outputs = []
        with tracer.span("pass", "pass") as ps:
            for op in wl.pass_ops(index):
                with tracer.span(op, "op", wl.layer(op)):
                    try:
                        outputs.append((op, wl.run_op(spark, tracer, op), None))
                    except Exception:
                        outputs.append((op, None, traceback.format_exc(limit=3)))
                        if not _alive(spark):
                            spark = _revive(spark, conf)
                            tracer.spark = spark
                            jvm_pids.add(_jvm_pid(spark))
        for op, out, err in outputs:
            attempted += 1
            issues = [f"error: {err}"] if err else wl.check(op, out)
            if issues:
                status = "error" if err else "mismatch"
                failures.append({"pass": index, "op": op, "status": status, "issues": issues})
        wl.after_pass(index)
        index += 1
        pass_walls.append(dur(ps))
        pass_ids.append(ps["id"])
        unattributed.append(tracer.unattributed_s(ps))
        for c in tracer.children(ps["id"]):
            op_times.setdefault(c["name"], []).append(dur(c))
        storage.append(_storage(spark))
        if sum(pass_walls) >= args.seconds or time.time() - t_process > DEADLINE_S:
            break

    rss_mb = _vm_hwm_mb("self") + sum(_vm_hwm_mb(p) for p in jvm_pids if p)
    _stop(spark)

    per_op = {op: _median(ts) for op, ts in sorted(op_times.items())}
    e2e = {
        "setup_s": (dur(setup), "s"),
        "pass_s": (_median(pass_walls), "s"),
        "query_geomean_s": (_geomean(list(per_op.values())), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    extra = {"failed_frac": (len(failures) / attempted, "1")}
    if isinstance(wl, ErkgPipeline):
        extra.update({
            "assets_s": (per_op["assets"], "s"),
            "link_s": (per_op["link"], "s"),
            "asset_bytes_ratio": (wl.asset_bytes_ratio(), "1"),
        })
    layer = {}
    if args.trace:
        layer = layer_metrics(tracer, pass_ids, LAYERS)
        layer.update({
            "session.start_s": dur(s_start),
            "catalog.load_s": dur(s_cat),
            "plans.memo.build_s": dur(s_memo),
            "plans.memo.storage_mb": storage[-1][0],
            "plans.memo.cached_rdds": storage[-1][1],
            "trace.pass_s": _median(pass_walls),
            "trace.unattributed_s": _median(unattributed),
        })
    report = {
        "identity": _identity(args),
        "passes": len(pass_walls),
        "prepare_s": round(prepare_s, 3),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **extra}.items()},
        "per_op_median_s": per_op,
        "memo_build_s": {c["name"]: dur(c) for c in tracer.children(s_memo["id"])},
        "pass_s_all": pass_walls,
        "unattributed_s": unattributed,
        "memo_storage_after_pass": storage,
        "failures": failures,
    }
    if args.trace:
        report["layers"] = layer
        keys = ("id", "parent", "name", "kind", "layer", "start", "end")
        report["spans"] = [{k: sp[k] for k in keys} for sp in tracer.spans]
    print(json.dumps(report, default=str))
    if args.trace:
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures), "metrics": metrics}))
    return 0


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
