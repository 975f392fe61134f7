"""bench.py driver contract: the FINAL stdout line must be one JSON
object short enough to survive the driver's ~2000-char stdout-tail
capture (r8 VERDICT item 3 — BENCH_r08.json recorded parsed=null
because the full 157-query artifact line was ~10 KB)."""

from __future__ import annotations

import importlib.util
import json
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_module", os.path.join(HERE, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_compact_summary_fits_driver_tail():
    bench = _load_bench()
    with open(os.path.join(HERE, "BENCH_LOCAL_r08.json")) as fh:
        full = json.load(fh)
    summary = bench._compact_summary(full, HERE, 9)
    line = json.dumps(summary)
    assert len(line) <= 2000, f"summary line {len(line)} chars > 2000"
    # driver contract shape
    assert summary["metric"] == "headline_suite_total"
    assert summary["unit"] == "sec"
    assert isinstance(summary["value"], (int, float))
    assert isinstance(summary["queries"], dict)
    assert 0 < len(summary["queries"]) <= 10
    assert summary["n_queries"] == len(full["queries"])
    # vs itself (r8 vs r8) the geomean is exactly 1.0
    assert summary["geomean_vs_prev_round"] == 1.0


def test_compact_summary_no_prev_round():
    bench = _load_bench()
    with open(os.path.join(HERE, "BENCH_LOCAL_r08.json")) as fh:
        full = json.load(fh)
    summary = bench._compact_summary(full, HERE, 1)  # r0 artifact absent
    assert summary["geomean_vs_prev_round"] is None
    assert len(json.dumps(summary)) <= 2000


class _Write:
    """Stand-in for ``DataFrame.write`` whose save() runs a callback."""

    def __init__(self, on_save):
        self.on_save = on_save

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.on_save()


class _Frame:
    def __init__(self, on_save=lambda: None):
        self.write = _Write(on_save)


def test_failing_query_is_recorded_and_suite_continues(tmp_path):
    bench = _load_bench()

    def boom():
        raise RuntimeError("executor lost\nstack trace line")

    queries = {
        "q_ok_a": lambda spark, sf: _Frame(),
        "q_bad": lambda spark, sf: _Frame(boom),
        "q_ok_b": lambda spark, sf: _Frame(),
    }
    timings, _, errors = bench._time_headline(None, "sf", list(queries), queries)
    assert errors == {"q_bad": "RuntimeError: executor lost"}
    assert set(timings) == {"q_ok_a", "q_ok_b"}

    result = {
        "metric": "headline_suite_total", "value": sum(timings.values()),
        "unit": "sec", "sf": 0.1, "cores": 4, "queries": timings,
        "errors": errors,
    }
    summary = bench._compact_summary(result, str(tmp_path), 2)
    assert summary["n_queries"] == 2
    assert summary["n_errors"] == 1


def test_core_count_keys_artifacts_and_drift(tmp_path):
    """A run is compared only with artifacts and control baselines
    recorded at its own core count."""
    bench = _load_bench()
    assert bench._artifact_name(14, 8) == "BENCH_LOCAL_r14_c8.json"

    prev = {"queries": {"q": 2.0}}
    with open(tmp_path / "BENCH_LOCAL_r13_c32.json", "w") as fh:
        json.dump(prev, fh)
    result = {
        "metric": "headline_suite_total", "value": 1.0, "unit": "sec",
        "sf": 0.1, "cores": 8, "queries": {"q": 1.0},
        "control": {"drift_geomean": None},
    }
    summary = bench._compact_summary(result, str(tmp_path), 14)
    assert summary["geomean_vs_prev_round"] is None
    assert summary["full_artifact"] == "BENCH_LOCAL_r14_c8.json"
    with open(tmp_path / "BENCH_LOCAL_r13_c8.json", "w") as fh:
        json.dump(prev, fh)
    summary = bench._compact_summary(result, str(tmp_path), 14)
    assert summary["geomean_vs_prev_round"] == 0.5

    now = {q: 1.0 for q in bench.CONTROL_PANEL}
    assert 8 not in bench.CONTROL_BASELINES
    off = bench._control_drift(HERE, now, 8)
    assert off["drift_geomean"] is None and off["baseline"] is None
    on = bench._control_drift(HERE, now, 32)
    assert on["baseline"] == bench.CONTROL_BASELINES[32]
    assert on["drift_geomean"] is not None
