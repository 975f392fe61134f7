"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Run it from the root of the repository. For each workload it runs the
benchmark untraced and traced on tiny inputs (registry tables at
sf0.001, a 300-entity report with 50 articles) and asserts that:

* every metric named in BENCHMARK.json is printed with its unit;
* no operation failed and every output matched its oracle;
* the traced spans nest, and each pass's operation spans cover its
  wall time.

It then runs one workload in this process with one operation made to
raise and another made to kill the JVM, and asserts that both are
counted as failed while the run goes on in a fresh session. It prints
the tracing overhead (traced minus untraced ``pass_s``) per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

TINY = ["--seed", "7", "--seconds", "0", "--sf", "0.001", "--entities", "300", "--docs", "50"]
# share of a pass's wall time its operation spans may leave uncovered
MAX_UNATTRIBUTED = 0.02


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--trace", str(trace), *TINY]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def _check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    for m in wanted:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{label}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']} is not a number"
    assert set(result["metrics"]) == {m["name"] for m in wanted}, f"{label}: unexpected metrics"


def _check_result(report: dict, result: dict, label: str) -> None:
    assert result["correct"] and result["failed"] == 0, f"{label}: failures {report['failures']}"
    assert result["attempted"] >= 1, label
    assert report["metrics"]["failed_frac"]["value"] == 0, label


def _check_spans(report: dict, label: str) -> None:
    spans = {s["id"]: s for s in report["spans"]}
    for s in spans.values():
        assert s["start"] <= s["end"], f"{label}: span {s['name']} ends before it starts"
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (
                f"{label}: span {s['name']} is not inside its parent {p['name']}"
            )
    passes = [s for s in spans.values() if s["kind"] == "pass"]
    assert passes, f"{label}: no pass spans"
    for p in passes:
        ops = [s for s in spans.values() if s["parent"] == p["id"]]
        assert ops and all(s["kind"] == "op" for s in ops), f"{label}: pass children are not all ops"
        wall = p["end"] - p["start"]
        covered = sum(s["end"] - s["start"] for s in ops)
        assert wall - covered <= MAX_UNATTRIBUTED * wall, (
            f"{label}: ops cover {covered:.3f} s of a {wall:.3f} s pass"
        )


def _check_failure_isolation() -> None:
    """One op raises, another kills the JVM; both count as failed and
    the run finishes in a fresh session."""
    import contextlib
    import io
    import signal

    from perfbench import run
    from perfbench.workloads import RegistryMix

    real = RegistryMix.run_op

    def faulty(self, spark, tracer, op):
        if op == "dedup_exact":
            raise RuntimeError("injected failure")
        if op == "q1_pricing_summary":
            os.kill(spark.sparkContext._gateway.proc.pid, signal.SIGKILL)
        return real(self, spark, tracer, op)

    RegistryMix.run_op = faulty
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            rc = run.main(["--workload", "registry_mix", "--trace", "0", *TINY])
    finally:
        RegistryMix.run_op = real
    report, result = (json.loads(x) for x in out.getvalue().strip().splitlines()[-2:])
    assert rc == 0, rc
    failed = {(f["pass"], f["op"]): f["status"] for f in report["failures"]}
    passes = {p for p, _ in failed}
    assert {op for _, op in failed} == {"dedup_exact", "q1_pricing_summary"}, failed
    assert set(failed.values()) == {"error"}, failed
    assert result["failed"] == 2 * len(passes) and not result["correct"], result
    assert result["attempted"] > result["failed"], result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    overhead = {}
    for w in (x["name"] for x in bench["workloads"]):
        report, result = _run(w, 0)
        _check_metrics(result, bench["end_to_end"], f"{w} untraced")
        _check_result(report, result, f"{w} untraced")
        treport, tresult = _run(w, 1)
        _check_metrics(tresult, bench["per_layer"], f"{w} traced")
        _check_result(treport, tresult, f"{w} traced")
        _check_spans(treport, f"{w} traced")
        overhead[w] = tresult["metrics"]["trace.pass_s"]["value"] - result["metrics"]["pass_s"]["value"]
        print(f"ok {w}: tracing overhead {overhead[w]:+.3f} s per pass", flush=True)
    _check_failure_isolation()
    print("ok failure isolation: errors and a JVM death are counted, the run goes on")
    return 0


if __name__ == "__main__":
    sys.exit(main())
