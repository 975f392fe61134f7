"""The benchmark's workloads.

Each workload makes its inputs (untimed), sets up (timed as
``setup_s``), and then runs passes of operations in a closed loop with
one client: an operation starts when the previous one has finished.
Every operation is timed as one ``op`` span holding ``call`` spans
(time inside a public function of the program, including any eager
jobs it runs) and ``action`` spans (the job that delivers the result).
Outputs are checked after each pass, outside the timed region.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics

LAYERS = (
    "graph",
    "similarity",
    "dedup",
    "text",
    "linking",
    "pipelines",
    "streaming",
    "lakehouse",
    "plans",
)

# The registry_mix pass: each query with the layer whose code does
# most of its work. An explicit table, because a query's name prefix
# does not say which layer it stresses. Queries that write under fixed
# /tmp roots (every lakehouse query, the streaming sinks, the warm-start
# PageRank snapshot) are left out: the benchmark reads and writes only
# inside its own directory, and that state would carry over between runs.
REGISTRY_MIX = {
    "g_triangle_count": "graph",
    "g_kcore": "graph",
    "knn_cosine_bruteforce": "similarity",
    "dedup_exact": "dedup",
    "stream_hourly_rollup": "streaming",
    "v3_disambiguate": "linking",
    "text_quality": "text",
    "q1_pricing_summary": "plans",
}


def _memo_builders():
    """The shared memoized views the registry_mix queries read, in
    dependency order: (name, build(spark, data_dir))."""
    from erkg_tutorials_spark.plans.graphq import (
        coorder_nbrs_cached,
        part_coorder_edges,
        trade_edges_sym,
    )

    return (
        ("trade_edges_sym", lambda s, d: trade_edges_sym(s, d).count()),
        ("part_coorder_edges", lambda s, d: part_coorder_edges(s, d).count()),
        ("coorder_nbrs", lambda s, d: coorder_nbrs_cached(s, d).count()),
    )


class RegistryMix:
    """Short registry queries over memoized views plus iterative graph
    kernels, each checked against its DuckDB oracle."""

    def __init__(self, work_dir: str, seed: int, sf: float):
        self.seed = seed
        self.sf = sf
        self.data_dir = os.path.join(work_dir, "data")
        self.queries = REGISTRY_MIX
        self.expected: dict = {}

    def prepare(self) -> None:
        import duckdb

        from erkg_tutorials_spark.catalog import TABLES
        from erkg_tutorials_spark.plans.registry import ORACLES
        from perfbench.datagen import write_registry_tables

        write_registry_tables(self.data_dir, self.sf, self.seed)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            self.expected = {q: con.sql(ORACLES[q]).df() for q in self.queries}
        finally:
            con.close()

    def load_catalog(self, spark) -> None:
        from erkg_tutorials_spark.catalog import TABLES, load_tables

        cat = load_tables(spark, self.data_dir)
        for t in TABLES:
            cat[t].schema  # resolve each table's schema; no scan

    def build_memos(self, spark, tracer) -> None:
        for name, build in _memo_builders():
            with tracer.span(f"memo:{name}", "call", "plans"):
                build(spark, self.data_dir)

    def pass_ops(self, index: int) -> list[str]:
        ops = list(self.queries)
        random.Random(f"{self.seed}/{index}").shuffle(ops)
        return ops

    def run_op(self, spark, tracer, op: str):
        from erkg_tutorials_spark.plans.registry import QUERIES

        with tracer.span("call", "call"):
            df = QUERIES[op](spark, self.data_dir)
        with tracer.span("collect", "action"):
            return df.toPandas()

    def layer(self, op: str) -> str:
        return REGISTRY_MIX[op]

    def check(self, op: str, out) -> list[str]:
        from tools.check_correctness import compare

        return compare(op, out, self.expected[op])

    def after_pass(self, index: int) -> None:
        pass


class ErkgPipeline:
    """The paper's flow: materialize the knowledge-base assets from a
    Senzing report into a fresh directory (write side), then link the
    articles against those assets (read side)."""

    def __init__(self, work_dir: str, seed: int, n_entities: int, n_docs: int):
        self.seed = seed
        self.n_entities = n_entities
        self.n_docs = n_docs
        self.in_dir = os.path.join(work_dir, "inputs")
        self.out_root = os.path.join(work_dir, "assets")
        self.inputs: dict = {}
        self.asset_bytes: list[int] = []
        self._out_dir = ""

    def prepare(self) -> None:
        from perfbench.datagen import write_erkg_inputs

        self.inputs = write_erkg_inputs(self.in_dir, self.seed, self.n_entities, self.n_docs)

    def load_catalog(self, spark) -> None:
        spark.read.parquet(self.inputs["articles"]).count()

    def build_memos(self, spark, tracer) -> None:
        pass

    def pass_ops(self, index: int) -> list[str]:
        self._out_dir = os.path.join(self.out_root, f"pass{index}")
        return ["assets", "link"]

    def run_op(self, spark, tracer, op: str):
        from erkg_tutorials_spark.pipelines import entity_linking as el
        from erkg_tutorials_spark.pipelines.assets import load_asset, materialize_senzing_assets

        if op == "assets":
            with tracer.span("materialize_senzing_assets", "call"):
                return materialize_senzing_assets(
                    spark,
                    self.inputs["report"],
                    self.inputs["suspicious"],
                    self.inputs["countries"],
                    self._out_dir,
                )
        # The mention-linking half of E3 (run_entity_linking without its
        # TextRank phrase review, which is iterative graph work).
        with tracer.span("extract_mentions", "call", "text"):
            docs = spark.read.parquet(self.inputs["articles"])
            entities = load_asset(spark, self._out_dir, "entities")
            aliases = el.with_self_aliases(load_asset(spark, self._out_dir, "aliases"), entities)
            mentions = el.extract_mentions(docs, aliases)
        with tracer.span("link_entities", "call"):
            linked = el.link_entities(docs, mentions, aliases, entities)
        with tracer.span("mentions", "action"):
            return linked.toPandas()

    def layer(self, op: str) -> str:
        return "pipelines" if op == "assets" else "linking"

    def check(self, op: str, out) -> list[str]:
        if op == "assets":
            return self._check_assets(out)
        found = set(zip(out["doc_id"].astype(int), out["text"]))
        missed = self.inputs["planted"] - found
        if missed:
            return [f"{len(missed)} planted mentions not extracted, e.g. {sorted(missed)[:3]}"]
        return []

    def _read_jsonl(self, name: str) -> list[dict]:
        path = os.path.join(self._out_dir, name)
        rows = []
        for f in sorted(os.listdir(path)):
            if f.startswith("part-"):
                with open(os.path.join(path, f)) as fh:
                    rows.extend(json.loads(line) for line in fh if line.strip())
        return rows

    def _check_assets(self, log: dict) -> list[str]:
        want = self.inputs["expected"]
        issues = []
        if set(log.values()) != {"built"}:
            issues.append(f"assets not all built in a fresh directory: {log}")
        got_e = {r["entity_id"]: (r["type"], r["name"], r["description"]) for r in self._read_jsonl("entities")}
        want_e = {k: (e["type"], e["name"], e["description"]) for k, e in want["entities"].items()}
        if got_e != want_e:
            issues.append(f"entities differ: {len(got_e)} rows vs oracle {len(want_e)}")
        got_a = {r["alias"]: (r["entities"], r["probabilities"]) for r in self._read_jsonl("aliases")}
        want_a = want["aliases"]
        bad = [
            a
            for a, v in want_a.items()
            if a not in got_a
            or got_a[a][0] != v["entities"]
            or any(abs(g - w) > 1e-12 for g, w in zip(got_a[a][1], v["probabilities"]))
        ]
        if bad or len(got_a) != len(want_a):
            issues.append(f"aliases differ: {len(got_a)} vs oracle {len(want_a)}, e.g. {bad[:3]}")
        return issues

    def after_pass(self, index: int) -> None:
        """Record the committed asset bytes (data files, not checksum
        side files), then drop the pass's output."""
        total = 0
        for root, _, files in os.walk(self._out_dir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith("."))
        self.asset_bytes.append(total)
        shutil.rmtree(self._out_dir, ignore_errors=True)

    def asset_bytes_ratio(self) -> float:
        report = os.path.getsize(self.inputs["report"])
        return statistics.median(self.asset_bytes) / report
