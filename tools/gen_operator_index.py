"""Generate OPERATORS.md — the one-page operator -> query index
(r5 VERDICT item 8): every registry query, its implementing
module, its oracle tier, and its one-line description, grouped by
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
    from erkg_tutorials_spark.plans.registry import ORACLES, QUERIES

    by_module: dict[str, list[tuple[str, str, str]]] = {}
    for name, fn in QUERIES.items():
        f = inspect.unwrap(fn)
        path = os.path.relpath(inspect.getsourcefile(f), REPO)
        tier = "oracle" if name in ORACLES else "rows-only"
        doc = (inspect.getdoc(f) or "").split("\n", 1)[0].rstrip()
        by_module.setdefault(path, []).append((name, tier, doc))

    n_oracle = sum(1 for n in QUERIES if n in ORACLES)
    lines = [
        "# OPERATORS — generated query index",
        "",
        "One row per registry query, under its implementing module: name, oracle",
        "tier (`oracle` = exact-value DuckDB twin compared by the driver",
        "and the sf0.1 sweep; `rows-only` = weaker driver check), and the",
        "query's one-line description. GENERATED by",
        "`tools/gen_operator_index.py` — edit that script, not this file;",
        "`tests/test_operator_index.py` fails when this file is stale.",
        "",
        f"**{len(QUERIES)} queries ({n_oracle} oracle-backed, "
        f"{len(QUERIES) - n_oracle} rows-only) across "
        f"{len(by_module)} modules.** Cross-references: SURVEY.md §2 "
        "(operator inventory), COVERAGE.md (operator -> query mapping "
        "rationale), PLANS.md (plan-quality gates).",
        "",
    ]
    for path in sorted(by_module):
        entries = sorted(by_module[path])
        lines.append(f"## `{path}` ({len(entries)})")
        lines.append("")
        lines.append("| query | tier | description |")
        lines.append("|-------|------|-------------|")
        for name, tier, doc in entries:
            desc = doc.replace("|", "\\|")
            lines.append(f"| `{name}` | {tier} | {desc} |")
        lines.append("")
    return "\n".join(lines)


README = os.path.join(REPO, "README.md")


def collected_test_count() -> int:
    """Number of pytest tests collected under tests/ — the suite-size
    figure README advertises (r7 VERDICT item 7: pass counts drifted
    twice; the collected count is derivable without running the
    suite)."""
    import re
    import subprocess

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "-p", "no:cacheprovider"],
        capture_output=True, text=True, cwd=REPO,
    ).stdout
    m = re.search(r"(\d+) tests collected", out)
    if not m:
        raise RuntimeError(f"could not parse pytest collection output:\n{out[-500:]}")
    return int(m.group(1))


def updated_readme(text: str, n_queries: int, n_tests: int) -> str:
    """README with the two advertised counts rewritten from the live
    registry / collection (the drift class r6+r7 both flagged)."""
    import re

    text = re.sub(r"\d+ tests collected", f"{n_tests} tests collected", text)
    text = re.sub(
        r"\d+ oracle-checked queries", f"{n_queries} oracle-checked queries", text
    )
    return text


def main() -> int:
    from erkg_tutorials_spark.plans.registry import QUERIES

    text = render()
    with open(README) as fh:
        readme_now = fh.read()
    readme_new = updated_readme(
        readme_now, len(QUERIES), collected_test_count()
    )
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
