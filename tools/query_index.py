"""Generate QUERIES.md — the registry's full query inventory as one table.

One row per registered query: name, tags, whether it's in the bench set,
oracle kind, and the first line of its implementation comment. Regenerate
after adding queries:

    python tools/query_index.py
"""

from __future__ import annotations

import sys

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from hadoop_word_score_spark.plans.queries import REGISTRY  # noqa: E402


def first_comment_line(fn) -> str:
    import inspect

    for line in inspect.getsource(fn).splitlines():
        s = line.strip()
        if s.startswith("#"):
            return s.lstrip("# ").rstrip()
    doc = inspect.getdoc(fn)
    return (doc or "").splitlines()[0] if doc else ""


def main() -> None:
    lines = [
        "# QUERIES — registered query inventory",
        "",
        "Generated by `tools/query_index.py` from",
        "`hadoop_word_score_spark/plans/queries.py`. Every query is a",
        "`queries()` entry the driver can run; `oracle` says how the DuckDB",
        "correctness gate checks it (`hash` = row-count + schema +",
        "order-insensitive value hash).",
        "",
        f"{len(REGISTRY)} queries, "
        f"{sum(1 for s in REGISTRY.values() if s.oracle)} oracle-backed, "
        f"{sum(1 for s in REGISTRY.values() if s.bench)} in the bench set",
        "(the bench artifact carries 2 extra rows — the streaming drains,",
        "which are bench-only harness scenarios, not registry queries).",
        "",
        "Bench-set timings: `bench.py` prints the driver's one-line JSON and",
        "also writes `BENCH_LOCAL.json` (full per-row record, all trials) so",
        "the driver artifact's 2,000-char tail truncation can never block a",
        "per-row audit (r10 verdict #2).",
        "",
        "| query | tags | bench | oracle | what it is |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        s = REGISTRY[name]
        desc = first_comment_line(s.fn).replace("|", "\\|")
        lines.append(
            f"| `{name}` | {', '.join(s.tags) or '—'} | "
            f"{'yes' if s.bench else ''} | "
            f"{'hash' if s.oracle else 'rows-only'} | {desc} |"
        )
    with open(ROOT / "QUERIES.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(REGISTRY)} queries)")


if __name__ == "__main__":
    main()
