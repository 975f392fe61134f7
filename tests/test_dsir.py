"""DSIR importance resampling (plans/llmops.py): docs sharing the
target domain's vocabulary must outrank off-domain docs, and the
exact-integer scoring replays identically."""

from __future__ import annotations

import os

from erkg_tutorials_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def test_selection_is_deterministic(spark):
    q = QUERIES["dsir_importance_sample"]
    a = [tuple(r) for r in q(spark, SF).collect()]
    b = [tuple(r) for r in q(spark, SF).collect()]
    assert a == b
    assert len(a) > 0


def test_scores_rank_target_like_docs_first(spark, tmp_path):
    """Synthetic corpus: target docs (id % 17 == 0) talk about 'spark
    shuffle partitions'; half the source docs share that vocabulary,
    half talk about something else. The shared-vocabulary sources must
    fill the top of the selection."""
    on_domain = "spark shuffle partitions broadcast join codegen"
    off_domain = "medieval falconry techniques and castle masonry lore"
    rows = []
    for i in range(120):
        if i % 17 == 0:
            text = on_domain  # target sample
        elif i % 2 == 0:
            text = on_domain + f" extra{i}"
        else:
            text = off_domain + f" extra{i}"
        rows.append((i, text, "en", "synth", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    out = QUERIES["dsir_importance_sample"](spark, d).collect()
    ranked = [r["doc_id"] for r in out]
    # every on-domain source doc must outrank every off-domain one
    on = [i for i in ranked if i % 17 != 0 and i % 2 == 0]
    off = [i for i in ranked if i % 17 != 0 and i % 2 == 1]
    assert on, "no on-domain docs selected"
    if off:  # if any off-domain doc made the cut, it ranks strictly below
        worst_on = max(ranked.index(i) for i in on)
        best_off = min(ranked.index(i) for i in off)
        assert worst_on < best_off
