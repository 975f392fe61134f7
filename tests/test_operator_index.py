"""OPERATORS.md must stay current with the registry (r5 VERDICT item
8): the committed index is regenerated here and compared verbatim, so
adding/moving/renaming a query without re-running
tools/gen_operator_index.py fails the suite."""

import os

from tools.gen_operator_index import OUT, render


def test_operator_index_is_current():
    assert os.path.exists(OUT), "OPERATORS.md missing; run tools/gen_operator_index.py"
    with open(OUT) as fh:
        committed = fh.read()
    assert committed == render(), (
        "OPERATORS.md is stale; run python tools/gen_operator_index.py"
    )


def test_every_query_indexed_once():
    from erkg_tutorials_spark.plans.registry import QUERIES

    with open(OUT) as fh:
        text = fh.read()
    for name in QUERIES:
        assert f"| `{name}` |" in text, name


def test_every_query_has_description():
    """Every registered query function must carry a one-line docstring
    (r6 VERDICT item 8) — the index's description column is the
    docstring's first line, and an empty cell means an undocumented
    operator."""
    import inspect

    from erkg_tutorials_spark.plans.registry import QUERIES

    undocumented = [
        name
        for name, fn in QUERIES.items()
        if not (inspect.getdoc(inspect.unwrap(fn)) or "").strip()
    ]
    assert not undocumented, f"queries missing docstrings: {undocumented}"


def test_readme_counts_current():
    """README's advertised registry size must match the live registry
    (r7 VERDICT item 7). README states no test count: a hand-kept
    figure went stale whenever a change added a test."""
    from tools.gen_operator_index import README, updated_readme
    from erkg_tutorials_spark.plans.registry import QUERIES

    with open(README) as fh:
        text = fh.read()
    assert updated_readme(text, len(QUERIES)) == text, (
        "README counts are stale; run python tools/gen_operator_index.py"
    )


def test_register_rejects_duplicate_name():
    """One dict holds every query, so a second registration under a
    taken name would silently replace the first; register fails
    closed instead, and leaves the registry as it was."""
    import pytest

    from erkg_tutorials_spark.plans.registry import ORACLES, QUERIES, register

    name = "q1_pricing_summary"
    fn, oracle = QUERIES[name], ORACLES[name]
    with pytest.raises(ValueError, match=name):
        register(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert QUERIES[name] is fn and ORACLES[name] == oracle


def test_sf01_sweep_artifact_consistent():
    """CORRECTNESS_SF01.md must be one continuous sweep over the LIVE
    registry (r7 VERDICT item 2: the hand-assembled artifact drifted
    to 221-header / 214-body / 222-registry): header total == number
    of PASS lines == registry size, zero FAIL/weak lines."""
    import re

    from erkg_tutorials_spark.plans.registry import QUERIES
    from tools.gen_sf01_sweep import HEADER_RE, OUT as SWEEP_OUT

    with open(SWEEP_OUT) as fh:
        text = fh.read()
    m = HEADER_RE.search(text)
    assert m, "CORRECTNESS_SF01.md header missing; run tools/gen_sf01_sweep.py"
    n_pass_header, n_total_header = int(m.group(1)), int(m.group(2))
    pass_lines = re.findall(r"(?m)^PASS ", text)
    fail_lines = re.findall(r"(?m)^FAIL ", text)
    assert not fail_lines, "sweep artifact records FAILs"
    assert n_pass_header == len(pass_lines), "header/body disagree"
    assert n_total_header == len(QUERIES), (
        "registry changed since the last sf0.1 sweep; "
        "run python tools/gen_sf01_sweep.py"
    )
    assert n_pass_header == len(QUERIES), "sweep incomplete vs registry"


def test_10x_sweep_artifact_consistent():
    """CORRECTNESS_10X.md (r9 VERDICT item 1: the full-registry sweep
    over the combined key-shifted 10x build) must be one continuous
    run with header == PASS-body and zero FAILs. Unlike the sf0.1
    artifact it pins its own recorded total rather than the live
    registry size — the hours-long sweep is regenerated per round,
    and a registry added to since then shows up as header < registry
    in the artifact text, not as a silently-edited body."""
    import re

    from tools.gen_10x_sweep import HEADER_RE, OUT as SWEEP_OUT

    with open(SWEEP_OUT) as fh:
        text = fh.read()
    m = HEADER_RE.search(text)
    assert m, "CORRECTNESS_10X.md header missing; run tools/gen_10x_sweep.py"
    n_pass_header, n_total_header = int(m.group(1)), int(m.group(2))
    pass_lines = re.findall(r"(?m)^PASS ", text)
    fail_lines = re.findall(r"(?m)^FAIL ", text)
    assert not fail_lines, "10x sweep artifact records FAILs"
    assert n_pass_header == len(pass_lines), "header/body disagree"
    assert n_pass_header == n_total_header, "10x sweep recorded non-PASS rows"


def test_scale100x_artifact_consistent():
    """SCALE100X.json (r10 VERDICT item 2: the 100x notch under the
    tiered verification policy) must carry both scale steps with every
    check green: Tier B copy-projection matches (plus count-linearity
    where declared), Tier C conservation/linearity, Tier A oracle
    hash-matches. The artifact is regenerated by tools/scale_100x.py;
    a spec query dropped from the tool or a failed check shows up
    here, not as a silently-shrunk table."""
    import json
    import os

    from tools.scale_100x import TIER_A, TIER_B

    path = os.path.join(os.path.dirname(__file__), "..", "SCALE100X.json")
    with open(path) as fh:
        art = json.load(fh)
    for scale in ("10", "100"):
        recs = art["scales"][scale]
        for name, _, linear in TIER_B:
            if name == "__release__":  # family-boundary sentinel
                continue
            rec = recs[name]
            assert rec["proj_match"], (scale, name, rec)
            if linear:
                assert rec["count_linear_ok"], (scale, name, rec)
        pr = recs["pagerank_vector"]
        assert pr["conservation_ok"] and pr["linearity_ok"], (scale, pr)
        assert pr["copy0_complete"], (scale, pr)
        lv = recs["louvain_closure"]
        assert lv["copy_pure_ok"] and lv["labelled_linear_ok"], (scale, lv)
        bpe = recs["bpe_pair_linearity"]
        assert bpe["pair_linear_ok"], (scale, bpe)
        ann = recs["ann_recall"]
        assert ann["ivf_scale_ok"] and ann["pq_scale_ok"], (scale, ann)
        for name in TIER_A:
            assert recs[name]["hash_match"], (scale, name, recs[name])


def test_stream_scale_artifact_consistent():
    """STREAM_SCALE.json (r10 VERDICT item 6 / r11 item 4: the
    streaming tier's scale steps) must show the designed state-growth
    bound per operator class AT EVERY RECORDED SCALE: watermarked
    window state is INPUT-INDEPENDENT, keyed outputs scale exactly kx
    (disjoint user copies), calendar-keyed rollups keep their row
    counts, and every panel query completed everywhere."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "STREAM_SCALE.json")
    with open(path) as fh:
        art = json.load(fh)
    scales = sorted(art["scales"], key=int)
    assert "1" in scales and "10" in scales
    s1 = art["scales"]["1"]
    for k in scales:
        sk = art["scales"][k]
        for name in art["panel"]:
            assert sk[name]["secs"] > 0, (k, name)
        # window-aggregation state bounded by open windows, not input
        for name in ("stream_hourly_rollup", "stream_sliding_rollup"):
            if "state_rows" in s1[name] and "state_rows" in sk[name]:
                assert sk[name]["state_rows"] == s1[name]["state_rows"], (
                    k, name,
                )
        # per-user outputs scale exactly kx (disjoint user copies)
        for name in ("stream_sessionize_closed", "stream_attribution_pairs",
                     "stream_attribution_outer"):
            assert sk[name]["rows"] == int(k) * s1[name]["rows"], (k, name)
        # calendar-keyed rollups keep their row counts
        for name in ("stream_hourly_rollup", "stream_sliding_rollup",
                     "stream_exactly_once_daily"):
            assert sk[name]["rows"] == s1[name]["rows"], (k, name)
