"""Physical-plan quality gates (SCALING.md posture, SURVEY.md §4).

These tests pin the properties that make the engine viable at 100 TB:
filters reach the parquet scan, scans prune to the referenced columns,
dim joins broadcast, and no row-at-a-time Python UDF appears in any
declared query's hot path. They read `.explain` output — the same
evidence a human would check — so a regression that silently drops a
pushdown or de-broadcasts a dim join fails CI, not the cluster.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from erkg_tutorials_spark.plans.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestPushdownAndPruning:
    def test_q1_filter_pushed_to_scan(self, spark):
        plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("l_shipdate" in p for p in pushed), plan

    def test_q1_scan_prunes_columns(self, spark):
        plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, plan
        # q1 reads 7 of lineitem's 16 columns; the scan must not read
        # the rest (l_comment is the canonical fat column)
        assert all("l_comment" not in s for s in schemas), schemas

    def test_semi_filter_prunes_and_pushes(self, spark):
        plan = plan_of(QUERIES["f4_semi_filter"](spark, SF_DIR))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("o_totalprice" in p for p in pushed), plan


class TestJoinStrategy:
    @pytest.mark.parametrize(
        "name", ["j1_dim_lookup", "q5_region_revenue", "f4_semi_filter"]
    )
    def test_dim_joins_broadcast(self, spark, name):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan

    def test_phrase_match_dictionary_broadcasts(self, spark):
        plan = plan_of(QUERIES["phrase_ruler_match"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan


class TestNoPythonInHotPath:
    # Only the declared Python-boundary operators may ship rows to
    # Python workers, and they must use the Arrow batch path
    # (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas), never
    # row-at-a-time BatchEvalPython.
    PYTHON_OK = {
        "multimodal_decode",
        "multimodal_frame_sample",
        "multimodal_resize",
        # perceptual hashing decodes binary image payloads — the Arrow
        # batch boundary is the codec itself, same tier as
        # multimodal_decode; everything after the 64-bit signatures
        # (banding, Hamming verify, clustering) is JVM-side
        "dedup_image_phash",
        "dedup_image_phash_pairs",
        # real WAV encode→decode round-trip: both Arrow passes ARE the
        # audio codec tier (multimodal/media.py synth + analyzer)
        "multimodal_audio_features",
        # Misra-Gries candidate pass: bounded O(K) state per partition
        # is the point — a JVM groupBy would shuffle every distinct key.
        "heavy_hitters_users",
        # same MG pattern, token-granular two-pass variant: the Python
        # boundary is the bounded-memory candidate scan only; the
        # exact verification count is JVM-side
        "heavy_hitters_tokens",
        # Lateral Python UDTF showcase: the Python boundary IS the
        # feature under test (ArrowEvalPythonUDTF), entered once per
        # user-row after the groupBy, not per event.
        "udtf_event_runlengths",
        # polymorphic analyze() UDTF showcase — same rationale, one
        # lateral entry per bounded document slice
        "udtf_dynamic_ngrams",
    }

    def test_no_row_at_a_time_python_anywhere(self, spark):
        offenders = []
        for name, fn in QUERIES.items():
            plan = plan_of(fn(spark, SF_DIR), "simple")
            if "BatchEvalPython" in plan:
                offenders.append(name)
        assert not offenders, offenders

    def test_python_boundary_is_arrow_batched(self, spark):
        for name in self.PYTHON_OK:
            plan = plan_of(QUERIES[name](spark, SF_DIR), "simple")
            assert (
                "ArrowEvalPython" in plan
                or "MapInPandas" in plan
                or "FlatMapGroupsInPandas" in plan
            ), (name, plan)

    def test_everything_else_is_jvm_only(self, spark):
        offenders = []
        for name, fn in QUERIES.items():
            if name in self.PYTHON_OK:
                continue
            plan = plan_of(fn(spark, SF_DIR), "simple")
            if re.search(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan):
                offenders.append(name)
        assert not offenders, offenders


class TestCodegen:
    def test_q1_whole_stage_codegen(self, spark):
        # the AdaptiveSparkPlan wrapper hides codegen subtrees until
        # execution; plan with AQE off to see the static codegen shape
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR), "codegen")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan)
        assert m and int(m.group(1)) >= 1, plan[:500]


class TestScalePatternPlans:
    def test_prefilter_join_both_stages_broadcast(self, spark):
        """Both the coarse-hash prefilter and the exact confirm must be
        broadcast semi-joins — a shuffle here would defeat the runtime
        filter's purpose."""
        plan = plan_of(QUERIES["runtime_prefilter_join"](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "SortMergeJoin" not in plan, plan
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("c_acctbal" in p for p in pushed), plan

    def test_fs_linkage_blocked_join_broadcasts(self, spark):
        """The FS candidate join must broadcast the dim-sized supplier
        build side and never degrade to a cartesian product — blocking
        is only real if the join keys carry it."""
        plan = plan_of(QUERIES["fs_record_linkage"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_heavy_hitters_verify_is_broadcast_semi(self, spark):
        """Pass 2's exact count must semi-join the bounded candidate
        set via broadcast — shuffling the full token stream against
        ≤K×partitions candidates would waste the MG pass."""
        plan = plan_of(QUERIES["heavy_hitters_tokens"](spark, SF_DIR))
        assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan

    def test_salted_agg_is_two_exchanges_max(self, spark):
        """Partial (type, salt) agg + final (type) agg: the plan must
        keep map-side partial aggregation (no extra exchanges)."""
        plan = plan_of(QUERIES["skew_salted_agg"](spark, SF_DIR))
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 2, plan

    def test_zorder_single_shuffle(self, spark):
        plan = plan_of(QUERIES["zorder_clustering"](spark, SF_DIR))
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 1, plan
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert all("o_totalprice" not in s for s in schemas), schemas

    def test_semdedup_centroids_broadcast(self, spark):
        """Centroid assignment must broadcast the k centroids, and the
        only non-broadcast join key is the cluster cell."""
        plan = plan_of(QUERIES["dedup_semantic"](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan

    def test_pq_adc_lut_broadcast(self, spark):
        """The ADC lookup table (M·k_sub·|queries| rows) must broadcast
        against the codes table — shuffling the codes corpus by (m,
        code) would be the scale-killer PQ exists to avoid."""
        plan = plan_of(QUERIES["knn_cosine_pq"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan


class TestLakeOpsPlans:
    def test_sample_bottom_k_take_ordered(self, spark):
        """Bottom-k hash sampling must compile to TakeOrderedAndProject
        (per-partition top-k heaps), never a global Sort of the full
        table."""
        plan = plan_of(QUERIES["sample_bottom_k"](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, plan

    def test_zone_map_single_shuffle(self, spark):
        """Zone-map stats are one groupBy over the fact scan — one
        exchange, and the scan must prune to the referenced columns."""
        plan = plan_of(QUERIES["zone_map_stats"](spark, SF_DIR))
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 2, plan  # partial+final distinct-agg pair
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert all("l_comment" not in s and "l_tax" not in s for s in schemas), schemas

    def test_cdc_apply_single_shuffle(self, spark):
        """CDC apply is one window over the change stream: exactly one
        exchange on the key."""
        plan = plan_of(QUERIES["cdc_apply_changes"](spark, SF_DIR))
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 1, plan


class TestLinkPredictionPlans:
    def test_seeds_broadcast_onto_adjacency(self, spark):
        """The seed set must reach the adjacency scan as a broadcast
        semi-join — shuffling the full adjacency by seed membership
        would defeat the seed-scoping that bounds the wedge explosion."""
        plan = plan_of(QUERIES["g_link_prediction"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan

    def test_clustering_coeff_broadcasts_adjacency(self, spark):
        """The adjacency-array table must broadcast (a shuffle join
        would move the per-edge array payload through an exchange) —
        and on this HUBLESS graph the runtime probe must pick the
        lean broadcast-only plan: no per-edge union with the hub
        wedge-join branch, whose empty-side joins still shuffle the
        full 2|E| adjacency (the r5 bench regression). The hub branch
        itself is plan-asserted in
        test_graph_frames.py::TestClusteringHybrid."""
        plan = plan_of(QUERIES["g_clustering_coeff"](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, plan
        # the wedge join is the only place a column named `w` exists;
        # a hubless graph must not carry that branch
        assert not re.search(r"\bw#\d+", plan), plan

    def test_pagerank_vertex_count_no_global_window(self, spark):
        """The un-namespaced vertex count must never be a keyless
        Window.partitionBy() — an empty-key window drags all |V| rows
        through one task. Un-namespaced verts carry no per-row count
        (|V| is a driver-side scalar); only namespaced verts get the
        ``n`` window, partitioned by the namespace. (Tested on the
        helper directly: pagerank()'s returned plan is always a
        checkpointed LogicalRDD, which would hide the window.)"""
        from pyspark.sql import functions as F

        from erkg_tutorials_spark.graph.pagerank import graph_invariants

        e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        verts = graph_invariants(e)[0]
        assert verts.columns == ["id"]
        assert "Window" not in plan_of(verts)
        nsv = graph_invariants(e.withColumn("doc", F.lit(7)), ["doc"])[0]
        assert re.search(r"windowspecdefinition\(doc#", plan_of(nsv)), plan_of(nsv)
        # and values are right
        assert {r.n for r in nsv.collect()} == {3}

    def test_hierarchy_rollup_one_exchange(self, spark):
        """Materialized-path rollup: the ancestor explosion stays in
        the scan stage; one aggregation exchange over the paths, plus
        the single-row exchange of the max-custkey depth scalar (the
        guard that keeps sf growth from truncating ancestor chains)."""
        plan = plan_of(QUERIES["hierarchy_rollup"](spark, SF_DIR))
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 2, plan

    def test_fuzzy_match_blocked_equi_join(self, spark):
        """Both block keys (candidate length AND tagged boundary char)
        must appear as EQUI join keys — no nested-loop pair evaluation.
        That the equi-encoding (explode + distinct) computes exactly
        the declared OR-of-boundary-chars block is proven by the oracle
        hash match; here we pin the physical shape."""
        df = QUERIES["fuzzy_name_match"](spark, SF_DIR)
        plan = plan_of(df)
        assert "NestedLoop" not in plan, plan
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
        key_line = next(
            line for line in plan.splitlines() if line.startswith("Left keys")
        )
        assert "cand_len" in key_line and "bkey" in key_line, key_line

    def test_dq_checks_counts_only(self, spark):
        """The constraint report must never sort or window the facts —
        aggregates and one anti-join only."""
        plan = plan_of(QUERIES["dq_checks"](spark, SF_DIR))
        assert "Window" not in plan, plan
        assert "TakeOrderedAndProject" not in plan, plan


class TestStatAndCurationPlans:
    def test_stat_regression_single_pass_moments(self, spark):
        """Sufficient statistics in one aggregation — no second
        centering pass over the fact, no window."""
        plan = plan_of(QUERIES["stat_regression"](spark, SF_DIR))
        assert "Window" not in plan, plan

    def test_e2_curation_single_corpus_scan(self, spark):
        """The composed funnel must read documents.parquet exactly
        twice (dedup window + token explode share the base subtree) —
        a per-stage re-read would multiply the 100 TB scan cost."""
        plan = plan_of(QUERIES["e2_corpus_curation"](spark, SF_DIR))
        n_scans = plan.count("documents.parquet")
        assert n_scans <= 2, f"{n_scans} document scans\n" + plan[:2000]


class TestDriverContract:
    def test_no_nested_types_in_any_registry_output(self, spark):
        """The driver's correctness harness canonicalizes each result
        with pandas ``sort_values`` over every output column, which
        raises ``TypeError: unhashable type`` on Array/Map/Struct
        cells (the r3 ``inverted_index_postings`` red row). Guard the
        whole class, not the instance: every registered query must
        emit only flat, sortable scalar columns."""
        from pyspark.sql.types import ArrayType, MapType, StructType

        bad: dict[str, list[str]] = {}
        for name, fn in sorted(QUERIES.items()):
            schema = fn(spark, SF_DIR).schema
            nested = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            if nested:
                bad[name] = nested
        assert not bad, f"nested top-level output columns: {bad}"


class TestRound7LateAdditions:
    def test_rcte_uses_native_union_loop(self, spark):
        """rcte_customer_hierarchy must run on Spark 4's native
        recursive-CTE execution (UnionLoop), not any rewrite that
        materializes per-level unions driver-side."""
        plan = plan_of(QUERIES["rcte_customer_hierarchy"](spark, SF_DIR))
        assert "UnionLoop" in plan, plan

    def test_gap_fill_grid_is_generated_not_joined(self, spark):
        """The calendar grid must come from explode(sequence(...)) —
        arithmetic row generation — with no cartesian/calendar-table
        join anywhere in the plan."""
        plan = plan_of(QUERIES["events_gap_fill"](spark, SF_DIR))
        assert "Generate" in plan and "sequence" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_cdf_filters_unchanged_rows_before_image_explode(self, spark):
        """table_changes must emit O(changes): the null-safe struct
        comparison filter sits between the full-outer key join and the
        image explode, so unchanged rows never reach the Generate."""
        df = QUERIES["cdf_orders_merge"](spark, SF_DIR)
        plan = plan_of(df, "simple")
        lines = plan.splitlines()
        gen = next(i for i, l in enumerate(lines) if "Generate" in l)
        join = next(
            i for i, l in enumerate(lines)
            if "SortMergeJoin" in l and "FullOuter" in l
        )
        filt = [i for i, l in enumerate(lines) if "Filter" in l and gen < i < join]
        assert filt, plan  # tree order: Generate above Filter above Join


class TestR8Plans:
    def test_dsir_ratio_table_broadcasts(self, spark):
        """The 256-row hashed-bucket log-ratio table must broadcast
        into the per-doc scoring join — shuffling the gram stream by
        bucket would move the whole corpus through an exchange."""
        plan = plan_of(QUERIES["dsir_importance_sample"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan

    def test_louvain_summary_broadcasts_labels(self, spark):
        """community_summary maps the |V|-row label table onto both
        endpoints of the edge scan via broadcast (the final, visible
        stage of the checkpointed loop; the in-round broadcasts are
        asserted by timing in SCALING.md and the commit record)."""
        plan = plan_of(QUERIES["g_louvain_communities"](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, plan

    def test_e1_lifecycle_broadcasts_dim_and_seeds(self, spark):
        """The composed E1 plan must broadcast the nation dim; the
        reach/urgent filters may be broadcast or shuffled-hash but
        never a cartesian product."""
        plan = plan_of(QUERIES["e1_senzing_lifecycle"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan


class TestR9Plans:
    def test_mst_final_output_no_cartesian_or_python(self, spark):
        """The Borůvka forest's visible plan (union of per-phase picks
        over checkpointed choice tables) must stay JVM-only with no
        cartesian product; the in-round label broadcasts are asserted
        by the round-time measurements in SCALING.md."""
        plan = plan_of(QUERIES["g_mst_forest"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_mis_final_output_no_cartesian_or_python(self, spark):
        plan = plan_of(QUERIES["g_mis_luby"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_cusum_two_windows_one_shuffle_family(self, spark):
        """CUSUM = groupBy(type, day) + per-type stats broadcast + two
        ordered windows — everything shuffles on event_type-rooted
        keys; the per-type stats table must broadcast, not shuffle the
        daily series a second time."""
        plan = plan_of(QUERIES["events_cusum_changepoint"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_seq_patterns_total_broadcast(self, spark):
        """The 1-row total-users table must broadcast into the support
        filter (BroadcastNestedLoopJoin over a single row), and the
        pair/triple joins must be hash joins on user_id, never a
        cartesian."""
        plan = plan_of(QUERIES["seq_pattern_mining"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan

    def test_kcenter_selected_centers_broadcast(self, spark):
        """Every k-center step broadcasts ONE vector onto the corpus
        (BroadcastNestedLoopJoin of a 1-row frame); the corpus side
        never shuffles."""
        plan = plan_of(QUERIES["coreset_kcenter"](spark, SF_DIR))
        assert "Exchange hashpartitioning" not in plan, plan

    def test_ndcg_gt_join_is_hash_on_query_and_neighbor(self, spark):
        plan = plan_of(QUERIES["retrieval_ndcg_eval"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan


class TestR9Wave3Plans:
    def test_coloring_final_output_no_cartesian_or_python(self, spark):
        """The layered-MIS coloring's visible plan (union of per-color
        checkpointed selections) must stay JVM-only with no cartesian;
        the in-round active/priority broadcasts follow the MIS gate."""
        plan = plan_of(QUERIES["g_greedy_coloring"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_seasonal_decompose_seasonal_table_broadcasts(self, spark):
        """Decomposition = one groupBy(type, day) + two windows + a
        (type × 7)-row seasonal join, which must broadcast — never a
        second shuffle of the daily series."""
        plan = plan_of(QUERIES["events_seasonal_decompose"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_acf_stats_broadcast_lag_join_not_cartesian(self, spark):
        """The per-type stats and denominator tables broadcast; the
        lag self-join is keyed on event_type (hash or broadcast) with
        the 1..7 day-range as a join filter — never a cartesian."""
        plan = plan_of(QUERIES["events_autocorrelation"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_dp_noisy_counts_jvm_only_single_shuffle(self, spark):
        """The geometric mechanism is pure column arithmetic on the
        grouped table: exactly the count's own shuffle, no Python
        boundary, no join at all."""
        plan = plan_of(QUERIES["dp_noisy_counts"](spark, SF_DIR))
        assert "Python" not in plan, plan
        assert "Join" not in plan, plan

    def test_blocking_quality_dim_side_broadcasts(self, spark):
        """Candidate counting joins per-block count tables (supplier
        side dim-sized, broadcast); the ground-truth join is keyed on
        the record number. No cartesian anywhere — the |A|x|B| cross
        product exists only as arithmetic on two 1-row counts."""
        plan = plan_of(QUERIES["er_blocking_quality"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_domain_divergence_totals_broadcast(self, spark):
        """Token-keyed groupBys plus broadcasts of the per-domain and
        corpus totals; the vocab join is hash-keyed on the token."""
        plan = plan_of(QUERIES["corpus_domain_divergence"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_hardneg_query_side_broadcasts(self, spark):
        """Same shape as knn_cosine_bruteforce: the small query set
        broadcasts onto the partitioned corpus (nested-loop over a
        broadcast, not a shuffled cartesian) and scoring stays JVM-side
        (zip_with/aggregate folds)."""
        plan = plan_of(QUERIES["hardneg_mining"](spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


class TestR9Wave4Plans:
    def test_assortativity_two_hash_joins_one_aggregate(self, spark):
        """Edges join the degree table twice (hash, keyed on the
        endpoint) and collapse to one row — no window, no cartesian,
        all JVM."""
        plan = plan_of(QUERIES["g_degree_assortativity"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_mann_kendall_pairs_keyed_on_event_type(self, spark):
        """The upper-triangle pair join runs over the tiny per-type
        daily table, keyed on event_type — never a cartesian over
        events."""
        plan = plan_of(QUERIES["events_mann_kendall"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_neardup_leakage_is_pure_projection_on_pairs(self, spark):
        """The split coins are hash arithmetic on the pair endpoints —
        the visible plan over the memoized pair table must contain NO
        join at all (a |docs|-row split side would not broadcast at
        100 TB)."""
        plan = plan_of(QUERIES["split_neardup_leakage"](spark, SF_DIR))
        above_cache = plan.split("InMemoryTableScan", 1)[0]
        assert "Join" not in above_cache, plan
        assert "Python" not in above_cache, plan

    def test_mixture_totals_broadcast(self, spark):
        """Token counting is the only corpus-scale stage; the
        |sources|-row table cross-joins one broadcast totals row."""
        plan = plan_of(QUERIES["mixture_temperature_weights"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan


class TestR9Wave5Plans:
    def test_weighted_pagerank_final_output_jvm_only(self, spark):
        """The visible plan (TakeOrdered over the checkpointed final
        rank state) must stay JVM-only with no cartesian; the
        loop-invariant share table is a localCheckpoint."""
        plan = plan_of(QUERIES["g_pagerank_weighted"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_substring_spans_doc_partitioned_windows(self, spark):
        """Grams/marks/islands stay doc-partitioned; the only cross-
        doc motion is the gram-keyed dup count + semi-join — no
        cartesian, no Python."""
        plan = plan_of(QUERIES["dedup_substring_spans"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan

    def test_histogram_quantiles_stats_broadcast(self, spark):
        """The per-type (min, max, n) table broadcasts onto the value
        scan for binning; everything downstream is 64-counter keyed."""
        plan = plan_of(QUERIES["approx_quantiles_histogram"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "Python" not in plan, plan
