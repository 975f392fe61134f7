"""Command-line entry point: run any registry query from a shell.

    python -m erkg_tutorials_spark list [substring]
    python -m erkg_tutorials_spark run <query> [--sf-dir DIR] [--limit N]
    python -m erkg_tutorials_spark explain <query> [--sf-dir DIR]
    python -m erkg_tutorials_spark oracle <query>        # print the DuckDB twin
    python -m erkg_tutorials_spark pipeline <report> <suspicious> <countries> <out_dir>
    python -m erkg_tutorials_spark index save|load <path> [--sf-dir DIR]
    python -m erkg_tutorials_spark table history|read|compact|vacuum|merge|diff|stats <root> [...]

``run`` prints the result as a table (default 20 rows); ``explain``
prints the formatted physical plan; ``pipeline`` executes the E1
Senzing pipeline end-to-end and writes entities/aliases JSONL — the
reference's ``senzing-pipeline`` console script
(/root/reference/pyproject.toml:44), Spark-shaped.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="erkg_tutorials_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registry queries")
    p_list.add_argument("pattern", nargs="?", default="")

    for name in ("run", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        if name == "run":
            sp.add_argument("--limit", type=int, default=20)

    p_or = sub.add_parser("oracle", help="print the DuckDB oracle SQL")
    p_or.add_argument("query")

    p_pipe = sub.add_parser("pipeline", help="run the E1 Senzing pipeline")
    p_pipe.add_argument("report")
    p_pipe.add_argument("suspicious")
    p_pipe.add_argument("countries")
    p_pipe.add_argument("out_dir")

    p_idx = sub.add_parser(
        "index",
        help="persist / reload trained index artifacts "
        "(vector: IVF/PQ/SQ8; graph: edges/invariants/teleport/adjacency)",
    )
    p_idx.add_argument("action", choices=("save", "load"))
    p_idx.add_argument("path")
    p_idx.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_idx.add_argument(
        "--family",
        choices=("vector", "graph", "all"),
        default="all",
        help="which index family to save/load (default: all); families "
        "live under <path>/vector and <path>/graph when saving both",
    )

    p_tbl = sub.add_parser(
        "table",
        help="versioned-manifest table lifecycle (lakehouse/versioned.py)",
    )
    p_tbl.add_argument(
        "action",
        choices=("history", "read", "compact", "vacuum", "merge", "diff",
                 "stats"),
    )
    p_tbl.add_argument("root")
    p_tbl.add_argument("--version", type=int, default=None,
                       help="read: AS OF this version (default latest)")
    p_tbl.add_argument("--limit", type=int, default=20)
    p_tbl.add_argument("--target-files", type=int, default=1)
    p_tbl.add_argument("--keep-versions", type=int, default=1)
    p_tbl.add_argument("--source", default=None,
                       help="merge: parquet path of the source batch")
    p_tbl.add_argument("--on", default=None,
                       help="merge/diff: key column")
    p_tbl.add_argument("--delete-when", default=None,
                       help="merge: SQL bool over the source row image")
    p_tbl.add_argument("--from-version", type=int, default=None,
                       help="diff: older version (default latest-1)")
    p_tbl.add_argument("--to-version", type=int, default=None,
                       help="diff: newer version (default latest)")

    args = p.parse_args(argv)

    from erkg_tutorials_spark.plans.registry import ORACLES, QUERIES

    if args.cmd == "list":
        for name in sorted(QUERIES):
            if args.pattern in name:
                print(name)
        return 0

    if args.cmd == "oracle":
        if args.query not in ORACLES:
            print(f"unknown query {args.query!r}", file=sys.stderr)
            return 1
        print(ORACLES[args.query])
        return 0

    from erkg_tutorials_spark.session import get_spark

    spark = get_spark("erkg-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "pipeline":
        from erkg_tutorials_spark.pipelines.senzing_pipeline import (
            run_senzing_pipeline,
        )
        from erkg_tutorials_spark.sources.tabular import write_jsonl

        ents, aliases = run_senzing_pipeline(
            spark, args.report, args.suspicious, args.countries
        )
        write_jsonl(ents, f"{args.out_dir}/entities.jsonl")
        write_jsonl(aliases, f"{args.out_dir}/aliases.jsonl")
        print(f"wrote {args.out_dir}/entities.jsonl and aliases.jsonl")
        return 0

    if args.cmd == "index":
        from erkg_tutorials_spark.graph import index_store as graph_store
        from erkg_tutorials_spark.similarity import index_store as vector_store

        # a single family keeps the bare path (backward compatible with
        # the r5 vector-only layout); "all" nests one dir per family
        plural = args.family == "all"
        stores = {"vector": vector_store, "graph": graph_store}
        families = stores if plural else {args.family: stores[args.family]}
        bare_legacy = False
        if plural and args.action == "load":
            # r5-era artifacts were vector-only at the BARE path (no
            # <path>/vector nesting). Detect by manifest location so
            # `index load <old-path>` keeps working with the new
            # default --family=all.
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()

            def _exists(p: str) -> bool:
                hp = jvm.org.apache.hadoop.fs.Path(p)
                return hp.getFileSystem(hconf).exists(hp)

            if not _exists(f"{args.path}/vector/_manifest") and _exists(
                f"{args.path}/_manifest"
            ):
                bare_legacy = True
                families = {"vector": vector_store}
                print(
                    f"note: {args.path} is an r5-era bare vector layout; "
                    "loading family=vector only"
                )
        for fam, store in families.items():
            path = f"{args.path}/{fam}" if plural and not bare_legacy else args.path
            if args.action == "save":
                store.save_index(spark, args.sf_dir, path)
                print(f"saved [{fam}] {', '.join(store.ARTIFACTS)} under {path}")
            else:
                loaded = store.load_index(spark, args.sf_dir, path)
                for name, df in loaded.items():
                    print(f"loaded [{fam}] {name}: {df.count()} rows")
        return 0

    if args.cmd == "table":
        from erkg_tutorials_spark.lakehouse.versioned import (
            committed_versions,
            compact,
            read_manifest,
            read_version,
            vacuum,
        )

        if args.action == "history":
            versions = committed_versions(args.root)
            if not versions:
                print(f"no committed versions under {args.root}")
                return 1
            for v in versions:
                m = read_manifest(args.root, v)
                bid = f" batch_id={m['batch_id']}" if "batch_id" in m else ""
                ms = (
                    f" rewrote={len(m['replaced'])} {m['stats']}"
                    if m["mode"] == "merge"
                    else ""
                )
                print(
                    f"v{v}  mode={m['mode']}  files={len(m['files'])}"
                    f"  parent={m['parent']}{bid}{ms}"
                )
        elif args.action == "merge":
            from erkg_tutorials_spark.lakehouse.versioned import merge_into

            if not args.source or not args.on:
                print("merge requires --source and --on", file=sys.stderr)
                return 1
            stats = merge_into(
                spark,
                args.root,
                spark.read.parquet(args.source),
                on=args.on,
                when_matched_delete=args.delete_when,
            )
            print(stats)
        elif args.action == "diff":
            from erkg_tutorials_spark.lakehouse.versioned import table_changes

            if not args.on:
                print("diff requires --on", file=sys.stderr)
                return 1
            versions = committed_versions(args.root)
            if not versions:
                print(f"no committed versions under {args.root}")
                return 1
            v_to = args.to_version if args.to_version is not None else versions[-1]
            v_from = (
                args.from_version
                if args.from_version is not None
                else versions[max(0, len(versions) - 2)]
            )
            table_changes(spark, args.root, v_from, v_to, on=args.on).show(
                args.limit, truncate=False
            )
        elif args.action == "stats":
            versions = committed_versions(args.root)
            if not versions:
                print(f"no committed versions under {args.root}")
                return 1
            v = args.version if args.version is not None else versions[-1]
            m = read_manifest(args.root, v)
            fs = m.get("file_stats", {})
            for f in m["files"]:
                print(f"{f}  {fs.get(f, '(no zone map)')}")
        elif args.action == "read":
            read_version(spark, args.root, args.version).show(
                args.limit, truncate=False
            )
        elif args.action == "compact":
            v = compact(spark, args.root, target_files=args.target_files)
            print(f"compacted into v{v} ({args.target_files} file(s))")
        else:
            dropped = vacuum(args.root, keep_versions=args.keep_versions)
            print(f"vacuumed versions {dropped or '[]'}; "
                  f"kept {committed_versions(args.root)}")
        return 0

    if args.query not in QUERIES:
        print(f"unknown query {args.query!r} (try: list)", file=sys.stderr)
        return 1
    if args.cmd == "explain":
        # Plan-only: data-derived plan choices (the clustering hub
        # probe) use their scale-safe default instead of launching a
        # probe job, so `explain` is job-free on a cold session.
        from erkg_tutorials_spark.plans.memo import plan_only

        with plan_only():
            df = QUERIES[args.query](spark, args.sf_dir)
            df.explain("formatted")
    else:
        df = QUERIES[args.query](spark, args.sf_dir)
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
