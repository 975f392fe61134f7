"""Generate OPERATORS.md — the one-page operator -> query index
(r5 VERDICT item 8): every registry query, its implementing
module and its one-line description, grouped by
module and sorted by query name. No line numbers: editing a plan
module cannot make the index stale. Deterministic output;
tests/test_operator_index.py fails if the committed file drifts from
the registry.

    python tools/gen_operator_index.py          # rewrite OPERATORS.md
    python tools/gen_operator_index.py --check  # exit 1 if stale
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "OPERATORS.md")


def render() -> str:
    from erkg_tutorials_spark.plans.registry import QUERIES

    by_module: dict[str, list[tuple[str, str]]] = {}
    for name, fn in QUERIES.items():
        f = inspect.unwrap(fn)
        path = os.path.relpath(inspect.getsourcefile(f), REPO)
        doc = (inspect.getdoc(f) or "").split("\n", 1)[0].rstrip()
        by_module.setdefault(path, []).append((name, doc))

    lines = [
        "# OPERATORS — generated query index",
        "",
        "One row per registry query, under its implementing module: name and",
        "one-line description. Every query has an exact-value DuckDB oracle",
        "twin, compared by the driver and the sf0.1 sweep. GENERATED by",
        "`tools/gen_operator_index.py` — edit that script, not this file;",
        "`tests/test_operator_index.py` fails when this file is stale.",
        "",
        f"**{len(QUERIES)} queries across "
        f"{len(by_module)} modules.** Cross-references: SURVEY.md §2 "
        "(operator inventory), COVERAGE.md (operator -> query mapping "
        "rationale), PLANS.md (plan-quality gates).",
        "",
    ]
    for path in sorted(by_module):
        entries = sorted(by_module[path])
        lines.append(f"## `{path}` ({len(entries)})")
        lines.append("")
        lines.append("| query | description |")
        lines.append("|-------|-------------|")
        for name, doc in entries:
            desc = doc.replace("|", "\\|")
            lines.append(f"| `{name}` | {desc} |")
        lines.append("")
    return "\n".join(lines)


README = os.path.join(REPO, "README.md")


def updated_readme(text: str, n_queries: int) -> str:
    """README with its advertised registry size rewritten from the live
    registry (the drift class r6+r7 both flagged)."""
    import re

    return re.sub(
        r"\d+ oracle-checked queries", f"{n_queries} oracle-checked queries", text
    )


def main() -> int:
    from erkg_tutorials_spark.plans.registry import QUERIES

    text = render()
    with open(README) as fh:
        readme_now = fh.read()
    readme_new = updated_readme(readme_now, len(QUERIES))
    if "--check" in sys.argv:
        with open(OUT) as fh:
            current = fh.read()
        if current != text:
            print("OPERATORS.md is stale; run python tools/gen_operator_index.py")
            return 1
        if readme_new != readme_now:
            print("README.md counts are stale; run python tools/gen_operator_index.py")
            return 1
        print("OPERATORS.md and README counts are current")
        return 0
    with open(OUT, "w") as fh:
        fh.write(text)
    if readme_new != readme_now:
        with open(README, "w") as fh:
            fh.write(readme_new)
        print(f"updated counts in {README}")
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
