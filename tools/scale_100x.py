"""100x-step evidence for the heavy kernels + the tiered verification
policy (r10 VERDICT item 2).

Correctness so far is proven by full engine-vs-DuckDB oracle sweeps at
sf0.01, sf0.1 and the key-shifted 10x build. A further decade makes
full oracle sweeps infeasible (g_ktruss's unrolled CTE oracle alone
was 322 s at 10x), so the 100x notch uses a TIERED policy, recorded
here and gated by tests/test_operator_index.py:

* **Tier A — exact oracle.** Where DuckDB stays tractable at 100x the
  driver-replica compare runs unchanged (w6_analytic_functions: one
  15M-row window battery; its partition key o_orderpriority spans all
  copies, so no projection shortcut exists — and none is needed).
* **Tier B — copy-projection exactness.** The 100x build is, by
  construction, 100 similarity-disjoint isomorphic copies with copy 0
  carrying the ORIGINAL keys. Any query whose computation is per-copy
  independent (blocking keys, graph components, window partitions all
  copy-local) must therefore return, restricted to copy-0 keys,
  EXACTLY its sf0.1 result — compared value-for-value (the engine
  runs at full 100x scale; only the compare is restricted). This
  checks real values, not counts, and its adapters are validated at
  the 10x step first, where the full oracle sweep independently
  passed (CORRECTNESS_10X.md) — a projection adapter that agrees with
  the oracle-confirmed 10x build is trusted at 100x.
* **Tier C — conservation / linearity invariants.** For global
  results where projection doesn't apply: rank-vector conservation
  (PageRank ranks sum to 1 at any scale; no danglers on the symmetric
  trade graph) plus per-vertex linearity (rank(100x, copy-0 v) * 100
  == rank(1x, v) up to float tolerance — the disjoint-union PageRank
  system scales exactly 1/k), and k-fold count linearity for
  pair/cluster sets (copies are similarity-disjoint, so global counts
  are exactly k * per-copy counts).

Every kernel is also TIMED (single run, recorded as such) so
SCALING.md gets real 100x bends for: MinHash pair build, PPJoin
simjoin, dedup clustering, the pagerank family, k-core/k-truss/
triangles/CC, sessionization and the analytic-window battery.

    python tools/scale_100x.py              # validate at 10x, then run 100x
    python tools/scale_100x.py --scales 10  # adapters-only validation

Output: SCALE100X.json at the repo root + a markdown table on stdout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1 = "/root/testdata/sf0.1"
OFFN = 10_000_000  # every copy-0 numeric key is below this bound
PR_ITERS = 6


def _graph_copy0(col: str) -> str:
    # trade-graph vertex ids are 'c:<custkey>' / 's:<suppkey>'
    return f"CAST(substring({col}, 3, 19) AS BIGINT) < {OFFN}"


# Tier B specs: (query, copy-0 projection predicate, count-linear?)
# dedup_minhash_lsh is projection-only: MinHash signatures hash the
# TOKENS, and each copy's bijectively-suffixed vocabulary hashes into
# different bands, so per-copy LSH recall legitimately differs — the
# copy-0 projection (== the sf0.1 result, bit-for-bit) is the exact
# invariant; a 10x pair count is not (measured at the 10x step).
#
# r12 additions (r11 VERDICT item 6) and the invariant each rests on:
# - bpe_train_merges is NOT here, deliberately: BPE merges are
#   CHARACTER-level, and the per-copy '§<c>' word suffix leaves every
#   interior character pair intact (copy 3's "how§3" still contains
#   (h,o),(o,w)) — so '§'-free pair counts MULTIPLY by copies rather
#   than replicate (measured at 10x: (e,r) 450890 = 10 × 45089), and
#   a later (x,'§') merge consumes word-final x's, deflating pairs
#   that a projection would then compare against undeflated 1x
#   counts. No output-projection invariant exists; the exact claim
#   lives one level down — see the bpe_pair_linearity Tier C block.
# - g_betweenness_topk: the deterministic source predicate
#   (c_custkey % 1000 == 0 AND <= 4000) selects ONLY copy-0 keys at
#   any scale (copy offsets are multiples of 10^7 > 4000), and
#   shortest paths never cross copies — dependency mass is identical,
#   so the kx top-20 equals the 1x top-20 row-for-row (the projection
#   predicate is a no-op on the result; proj == full).
# - g_greedy_coloring: Jones-Plassmann priority = (inverse degree,
#   md5(id)) — both copy-local, copy 0 keeps original ids, and the
#   disjoint union runs each copy's elimination in lockstep with the
#   1x run, so copy-0 colors are bit-identical after the same rounds.
TIER_B = [
    ("dedup_minhash_lsh", f"id_a < {OFFN} AND id_b < {OFFN}", False),
    ("simjoin_prefix_filter", f"id_a < {OFFN} AND id_b < {OFFN}", True),
    ("dedup_clusters", f"doc_id < {OFFN}", True),
    ("dedup_incremental_exact",
     f"delta_id < {OFFN} AND corpus_id < {OFFN}", False),
    # ---- family boundary: the dedup tier's corpus caches (the 100x
    # shingle table is GBs) are released before the graph tier starts;
    # holding both families' index state at once OOM'd the 48-thread
    # local JVM at 100x (sentinel consumed by run_scale)
    ("__release__", "", False),
    ("g_kcore", _graph_copy0("id"), False),
    ("g_triangle_count", f"id < {OFFN}", True),
    ("g_ktruss", f"u < {OFFN} AND v < {OFFN}", True),
    ("g6_connected_components", _graph_copy0("component"), True),
    ("g_greedy_coloring", _graph_copy0("id"), True),
    ("g_betweenness_topk", _graph_copy0("id"), False),
    ("events_sessionize", f"user_id < {OFFN}", True),
]
TIER_A = ["w6_analytic_functions"]


class _Skip(Exception):
    """--only filter sentinel: not an error, just not requested."""


def _spill_totals(spark) -> dict | None:
    """Cumulative shuffle-spill/write bytes across all completed stages
    (Spark status REST API). Per-kernel spill = delta between two
    snapshots. Caveat recorded with the number: the UI retains
    spark.ui.retainedStages stages (default 1000), so a very long
    sweep undercounts — each kernel here runs far fewer stages than
    the retention window."""
    try:
        import urllib.request

        uiopt = spark.sparkContext._jsc.sc().uiWebUrl()
        if not uiopt.isDefined():
            return None
        base = uiopt.get()
        with urllib.request.urlopen(
            f"{base}/api/v1/applications", timeout=5
        ) as r:
            app_id = json.load(r)[0]["id"]
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=15,
        ) as r:
            stages = json.load(r)
        return {
            "disk_spill": sum(s.get("diskBytesSpilled", 0) for s in stages),
            "mem_spill": sum(s.get("memoryBytesSpilled", 0) for s in stages),
            "shuffle_write": sum(
                s.get("shuffleWriteBytes", 0) for s in stages
            ),
        }
    except Exception:
        return None


def _spill_delta(before: dict | None, after: dict | None) -> dict:
    if not before or not after:
        return {}
    gb = 1024 ** 3
    return {
        "disk_spill_gb": round(
            (after["disk_spill"] - before["disk_spill"]) / gb, 2
        ),
        "mem_spill_gb": round(
            (after["mem_spill"] - before["mem_spill"]) / gb, 2
        ),
        "shuffle_write_gb": round(
            (after["shuffle_write"] - before["shuffle_write"]) / gb, 2
        ),
    }


def _canon_hash(df) -> tuple[int, str]:
    """(row_count, order-insensitive value hash) over a DataFrame whose
    value columns are already query-rounded (every Tier B query rounds
    its floats in-plan, so equal computations hash equal)."""
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    payload = sorted(tuple(str(v) for v in r) for r in rows)
    h = hashlib.sha256(repr(payload).encode()).hexdigest()[:16]
    return len(rows), h


def run_scale(spark, copies: int, dst: str, only: set | None = None) -> dict:
    from tools.build_sf10x import build

    import __spark_entry__ as entry

    def _want(name: str) -> bool:
        return only is None or name in only

    qs = entry.queries()
    built = build(src=SF1, dst=dst, copies=copies)
    out: dict[str, dict] = {}

    # ---- Tier B: copy-projection exactness + timing -------------------
    # per-query isolation: one kernel exhausting this HOST's resources
    # (the first 100x triangle run filled the 76 GB scratch disk with
    # sort spill) must record an error, not kill the sweep
    from erkg_tutorials_spark.plans import memo

    for name, proj, linear in TIER_B:
        if not _want(name) and name != "__release__":
            continue
        if name == "__release__":
            n_rel = memo.release(spark, sf_dir=built)
            spark.sparkContext._jvm.System.gc()
            print(f"[{copies}x] released {n_rel} memos before graph tier",
                  flush=True)
            continue
        fn = qs[name]
        try:
            sp0 = _spill_totals(spark)
            t0 = time.time()
            big = fn(spark, built)
            nk_full = big.count()  # the timed full-scale run
            secs = round(time.time() - t0, 2)
            spill = _spill_delta(sp0, _spill_totals(spark))

            n1, h1 = _canon_hash(fn(spark, SF1))
            nk_proj, hk = _canon_hash(big.where(proj))
            rec = {
                "tier": "B",
                "secs": secs,
                "proj_match": (n1 == nk_proj and h1 == hk),
                "rows_1x": n1,
                "rows_proj": nk_proj,
                "rows_full": nk_full,
                **spill,
            }
            if linear:
                rec["count_linear_ok"] = nk_full == copies * n1
        except Exception as exc:  # noqa: BLE001 - recorded, not fatal
            rec = {"tier": "B", "error": str(exc).split("\n")[0][:300]}
        out[name] = rec
        print(f"[{copies}x] {name}: " + (
            f"{rec['secs']}s proj_match={rec['proj_match']}"
            + (f" linear={rec.get('count_linear_ok')}" if linear else "")
            if "error" not in rec else f"ERROR {rec['error'][:120]}"
        ), flush=True)

    # ---- Tier C: PageRank conservation + per-vertex linearity ---------
    from pyspark.sql import functions as F

    from erkg_tutorials_spark.graph.pagerank import pagerank
    from erkg_tutorials_spark.plans.graphq import trade_edges_sym

    try:
        if not _want("pagerank_vector"):
            raise _Skip
        t0 = time.time()
        rk = pagerank(trade_edges_sym(spark, built), max_iter=PR_ITERS)
        rk = rk.cache()
        total = rk.agg(F.sum("rank")).collect()[0][0]
        secs = round(time.time() - t0, 2)
        r1 = pagerank(trade_edges_sym(spark, SF1), max_iter=PR_ITERS)
        joined = (
            rk.where(_graph_copy0("id"))
            .join(r1.withColumnRenamed("rank", "rank1"), "id")
            .select(
                F.max(
                    F.abs(F.col("rank") * copies - F.col("rank1"))
                ).alias("dev"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        n1 = r1.count()
        out["pagerank_vector"] = {
            "tier": "C",
            "secs": secs,
            "rank_sum": round(total, 9),
            "conservation_ok": abs(total - 1.0) < 1e-6,
            "copy0_vertices": joined["n"],
            "vertices_1x": n1,
            "copy0_complete": joined["n"] == n1,
            "max_linear_dev": float(joined["dev"]),
            # float-only tolerance: the disjoint-union system scales
            # exactly 1/k in exact arithmetic; binary /100 rounding
            # leaves ~1e-15-relative noise on ~1e-3 ranks
            "linearity_ok": joined["dev"] < 1e-9,
        }
        rk.unpersist()
        print(f"[{copies}x] pagerank_vector: {secs}s sum={total:.9f} "
              f"maxdev={joined['dev']:.2e}", flush=True)
    except _Skip:
        pass
    except Exception as exc:  # noqa: BLE001 - recorded, not fatal
        out["pagerank_vector"] = {
            "tier": "C", "error": str(exc).split("\n")[0][:300]
        }
        print(f"[{copies}x] pagerank_vector: ERROR", flush=True)

    # ---- Tier C: Louvain copy-closure -------------------------------
    # No copy-projection exactness exists for Louvain: modularity
    # gains carry the GLOBAL edge mass m (cross-multiplied integers,
    # graph/louvain.py), and m scales with copies, so copy-0 label
    # assignments can legitimately differ from the 1x run. What IS
    # invariant: labels only ever move along edges, edges never cross
    # copies, so every community must be copy-pure, every vertex is
    # labelled exactly once, and the per-copy vertex count is exactly
    # the 1x count. The full query (community summary) is timed; the
    # closure check runs on the label assignment itself.
    try:
        if not _want("louvain_closure"):
            raise _Skip
        from erkg_tutorials_spark.graph.louvain import louvain_level
        from erkg_tutorials_spark.plans.graphq import (
            LOUVAIN_ROUNDS,
            trade_wedges_sym,
        )

        t0 = time.time()
        summary_rows = qs["g_louvain_weighted_l1"](spark, built).count()
        secs = round(time.time() - t0, 2)
        lbl = louvain_level(
            trade_wedges_sym(spark, built),
            rounds=LOUVAIN_ROUNDS,
            move_class=F.col("id").startswith("c:"),
        )
        copy_of = (F.substring("id", 3, 19).cast("bigint") / OFFN).cast(
            "bigint"
        )
        per_lbl = (
            lbl.select("id", "lbl", copy_of.alias("cp"))
            .groupBy("lbl")
            .agg(
                F.countDistinct("cp").alias("n_copies"),
                F.count("*").alias("members"),
            )
        )
        agg = per_lbl.agg(
            F.max("n_copies").alias("max_copies"),
            F.sum("members").alias("n_labelled"),
            F.count("*").alias("n_communities"),
        ).collect()[0]
        n1_v = louvain_level(
            trade_wedges_sym(spark, SF1),
            rounds=LOUVAIN_ROUNDS,
            move_class=F.col("id").startswith("c:"),
        ).count()
        out["louvain_closure"] = {
            "tier": "C",
            "secs": secs,
            "summary_rows": summary_rows,
            "copy_pure_ok": agg["max_copies"] == 1,
            "labelled_linear_ok": agg["n_labelled"] == copies * n1_v,
            "n_communities": agg["n_communities"],
        }
        print(
            f"[{copies}x] louvain_closure: {secs}s pure="
            f"{agg['max_copies'] == 1} labelled={agg['n_labelled']}",
            flush=True,
        )
    except _Skip:
        pass
    except Exception as exc:  # noqa: BLE001 - recorded, not fatal
        out["louvain_closure"] = {
            "tier": "C", "error": str(exc).split("\n")[0][:300]
        }
        print(f"[{copies}x] louvain_closure: ERROR {exc}", flush=True)

    # ---- Tier C: BPE initial-pair-count linearity --------------------
    # (TIER_B comment above: why no output projection exists for BPE.)
    # The corpus-sized part of BPE training is exactly ONE pass — the
    # word-frequency count feeding the initial pair-count table; the
    # merge loop then runs on the corpus-size-independent symbol
    # table. The provable kx invariant targets that pass: the '§<c>'
    # suffix mints only pairs containing '§' or a digit (its whole
    # alphabet), so every adjacent pair whose BOTH symbols are outside
    # [0-9§] replicates per copy — count_kx == copies * count_1x,
    # EXACTLY, for the entire letter-pair distribution (not a sampled
    # argmax). The full 8-merge training is timed for the bend datum.
    try:
        if not _want("bpe_pair_linearity"):
            raise _Skip
        from pyspark.sql import Window

        from erkg_tutorials_spark.catalog import load_tables
        from erkg_tutorials_spark.text.bpe import _init_state, word_freqs

        t0 = time.time()
        merge_rows = qs["bpe_train_merges"](spark, built).count()
        secs = round(time.time() - t0, 2)

        def _letter_pairs(d: str):
            st = _init_state(word_freqs(load_tables(spark, d)["documents"]))
            w = Window.partitionBy("word").orderBy("pos")
            return (
                st.withColumn("r", F.lead("sym").over(w))
                .where(F.col("r").isNotNull())
                .where(
                    ~F.col("sym").rlike("[0-9§]")
                    & ~F.col("r").rlike("[0-9§]")
                )
                .groupBy(F.col("sym").alias("l"), "r")
                .agg(F.sum("freq").alias("cnt"))
            )

        one = _letter_pairs(SF1).withColumnRenamed("cnt", "cnt1")
        bad = (
            _letter_pairs(built)
            .join(one, ["l", "r"], "full")
            .where(
                F.col("cnt").isNull()
                | F.col("cnt1").isNull()
                | (F.col("cnt") != copies * F.col("cnt1"))
            )
            .count()
        )
        n_pairs = one.count()
        out["bpe_pair_linearity"] = {
            "tier": "C",
            "secs": secs,
            "merge_rows": merge_rows,
            "letter_pairs": n_pairs,
            "pairs_nonlinear": bad,
            "pair_linear_ok": bad == 0 and n_pairs > 0,
        }
        print(
            f"[{copies}x] bpe_pair_linearity: {secs}s pairs={n_pairs} "
            f"nonlinear={bad}",
            flush=True,
        )
    except _Skip:
        pass
    except Exception as exc:  # noqa: BLE001 - recorded, not fatal
        out["bpe_pair_linearity"] = {
            "tier": "C", "error": str(exc).split("\n")[0][:300]
        }
        print(f"[{copies}x] bpe_pair_linearity: ERROR {exc}", flush=True)

    # ---- Tier R: ANN recall at scale ---------------------------------
    # The ANN queries (fixed 5-query set, copy offsets keep it copy-0
    # at any scale) have no projection invariant either: the kx index
    # (centroids, codebooks) is trained on the whole kx union —
    # approximate top-k against a kx corpus is a DIFFERENT (harder)
    # routing problem, which is exactly what to measure. Measured on
    # the PLANTED-CLUSTER corpus (build_clustered_corpus.build_scaled:
    # per-copy rotations of the 20 seeded clusters => 20k separated
    # clusters), not the isotropic synthetic embeddings — on those,
    # same- and cross-label cosine are both ~0, so recall@k is a
    # coin-flip over ties at ANY scale and a scale gate on it is
    # noise (measured: ivf 0.47 at 1x, 0.33 at 10x on 15 pairs).
    # Ground truth at scale is the engine's own brute-force over the
    # same kx corpus; recall@k of ivf/pq against it is recorded at 1x
    # and kx, gated on "routing quality survives the scale-up".
    try:
        if not _want("ann_recall"):
            raise _Skip
        from erkg_tutorials_spark.plans.vectorq import IVF_K, IVF_QUERIES
        from tools.build_clustered_corpus import build as build_clu
        from tools.build_clustered_corpus import build_scaled

        rec = {"tier": "R"}
        hits: dict[str, tuple[int, int]] = {}
        corpora = (
            ("1x", build_clu(src=SF1)),
            (f"{copies}x", build_scaled(base_kx=built, copies=copies)),
        )
        for label, d in corpora:
            # brute-force ships 10 queries x top-5; the approximate
            # tiers ship 5 x top-3 — align the exact set to (query,
            # rank) <= the approximate shape so recall@k is @ the
            # same k on both sides
            t0 = time.time()
            bf = {
                (r["query_id"], r["neighbor_id"])
                for r in qs["knn_cosine_bruteforce"](spark, d).collect()
                if r["query_id"] < IVF_QUERIES and r["rank"] <= IVF_K
            }
            if label != "1x":
                rec["bf_secs"] = round(time.time() - t0, 2)
            for q in ("knn_cosine_ivf", "knn_cosine_pq"):
                t0 = time.time()
                approx = {
                    (r["query_id"], r["neighbor_id"])
                    for r in qs[q](spark, d).collect()
                }
                if label != "1x":
                    rec[f"{q.split('_')[-1]}_secs"] = round(
                        time.time() - t0, 2
                    )
                m = q.split("_")[-1]
                hits[f"{m}_{label}"] = (len(approx & bf), max(len(bf), 1))
                rec[f"recall_{m}_{label}"] = round(
                    len(approx & bf) / max(len(bf), 1), 3
                )
        # the scale gate: routing quality must not collapse at kx.
        # One (query, neighbor) pair (5 queries x k=3 = 15 pairs) is
        # the measurement granularity; allow one pair of slack — on
        # INTEGER hit counts, not the rounded ratios (14/15 rounded to
        # 0.933 would spuriously fail a 1.0 - 1/15 float threshold).
        for m in ("ivf", "pq"):
            (hk, nk), (h1, n1_) = hits[f"{m}_{copies}x"], hits[f"{m}_1x"]
            rec[f"{m}_scale_ok"] = hk * n1_ >= (h1 - 1) * nk
        out["ann_recall"] = rec
        print(f"[{copies}x] ann_recall: {rec}", flush=True)
    except _Skip:
        pass
    except Exception as exc:  # noqa: BLE001 - recorded, not fatal
        out["ann_recall"] = {
            "tier": "R", "error": str(exc).split("\n")[0][:300]
        }
        print(f"[{copies}x] ann_recall: ERROR {exc}", flush=True)

    # ---- Tier A: exact DuckDB oracle at scale -------------------------
    import __spark_entry__ as e2

    oracles = e2.oracle_sql()
    for name in TIER_A:
        if not _want(name):
            continue
        fn = qs[name]
        try:
            _tier_a_one(spark, qs, oracles, built, copies, name, out)
        except Exception as exc:  # noqa: BLE001 - recorded, not fatal
            out[name] = {"tier": "A", "error": str(exc).split("\n")[0][:300]}
            print(f"[{copies}x] {name}: ERROR", flush=True)

    return out


def _tier_a_one(spark, qs, oracles, built, copies, name, out) -> None:
    import duckdb

    from tools.check_correctness import compare

    fn = qs[name]
    t0 = time.time()
    sdf = fn(spark, built)
    sdf.write.format("noop").mode("overwrite").save()
    secs = round(time.time() - t0, 2)
    spdf = sdf.toPandas()

    con = duckdb.connect()
    for fname in sorted(os.listdir(built)):
        if fname.endswith(".parquet"):
            t = fname[: -len(".parquet")]
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{os.path.join(built, fname)}'"
            )
    t0 = time.time()
    odf = con.sql(oracles[name]).df()
    osecs = round(time.time() - t0, 2)
    issues = compare(name, spdf, odf)
    out[name] = {
        "tier": "A",
        "secs": secs,
        "oracle_secs": osecs,
        "rows": len(spdf),
        "oracle_rows": len(odf),
        "hash_match": not issues,
        "issues": issues[:3],
    }
    print(f"[{copies}x] {name}: {secs}s oracle={osecs}s "
          f"match={not issues}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", nargs="+", type=int, default=[10, 100])
    ap.add_argument("--only", nargs="+", default=None,
                    help="re-run just these entries and merge into the "
                         "existing artifact")
    args = ap.parse_args()

    # inside main(), not at import: tests import TIER_A/TIER_B from
    # this module, and a module-level setdefault would mutate driver
    # sizing for any Spark session created later in that process.
    # local mode runs executors inside the driver JVM: the 100x kernels
    # need the same scaled heap the 10x full-registry sweep uses.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")

    from erkg_tutorials_spark.session import get_spark

    # zstd spill/shuffle compression: the adjacency-intersection
    # kernels (triangles, k-truss) sort wedge candidates whose volume
    # is linear in copies — at 100x that spill outgrew this host's
    # 76 GB scratch under the default lz4 (~0.6x); zstd's ~0.4x ratio
    # fits it. On a real cluster shuffle disk is provisioned with the
    # data; this knob is about measuring 100x on ONE box.
    spark = get_spark(
        "scale-100x", extra_conf={"spark.io.compression.codec": "zstd"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    for k in args.scales:
        dst = f"/tmp/erkg_sf{k}x_all_v2" if k != 10 else None
        dst = dst or "/tmp/erkg_sf10x_all_v2"
        results[str(k)] = run_scale(
            spark, k, dst, only=set(args.only) if args.only else None
        )

    art = {"src": SF1, "scales": results}
    path = os.path.join(REPO, "SCALE100X.json")
    if args.only and os.path.exists(path):
        # merge the re-run entries into the prior full artifact
        with open(path) as fh:
            art = json.load(fh)
        for k, recs in results.items():
            art["scales"].setdefault(k, {}).update(recs)
    with open(path, "w") as fh:
        json.dump(art, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path}")

    # markdown bend table
    if {"10", "100"} <= results.keys():
        print("\n| kernel | 10x secs | 100x secs | bend (100x/10x) |")
        print("|---|---|---|---|")
        for name in results["10"]:
            a = results["10"][name].get("secs")
            b = results["100"].get(name, {}).get("secs")
            if a and b:
                print(f"| {name} | {a} | {b} | {round(b / a, 2)}x |")
    spark.stop()


if __name__ == "__main__":
    main()
