"""Dump formatted physical plans for the bench queries into PLANS.md.

Evidence that the 100 TB story holds mechanically: pushed filters, pruned
read schemas, broadcast joins, partial aggregation, no cartesian products.
Regenerate after plan-affecting changes:

    python tools/explain_dump.py [sf_dir]
"""

from __future__ import annotations

import sys

from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from hadoop_word_score_spark.plans.queries import REGISTRY  # noqa: E402
from hadoop_word_score_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-dump")
    lines = [
        "# PLANS — formatted physical plans of the bench queries",
        "",
        f"Generated by `tools/explain_dump.py` at `{sf_dir}`. What to look for:",
        "`PushedFilters`/`ReadSchema` (scan-level pruning), `BroadcastHashJoin`",
        "(no shuffle for bounded dims), paired partial/final `HashAggregate`",
        "(map-side combine), absence of `CartesianProduct`.",
        "",
        "`Scan ExistingRDD` nodes are localCheckpoint pins for multi-consumer",
        "relations. Most pin BOUNDED relations (vocab, hourly, centroid,",
        "graph-edge cardinality); four sites deliberately pin corpus-shaped",
        "ones as an explicit one-scan-vs-materialization trade, each",
        "commented in place with its 100 TB alternative (spill-to-disk",
        "persist or a second scan): corpus_sample_plan_execution's per-doc",
        "token counts, events_mad_outliers'/events_mad_outliers_approx's",
        "deviation relations, quality_bigram_logprob's (doc, bigram) counts,",
        "dedup_containment's pruned postings.",
        "",
    ]
    for name, spec in REGISTRY.items():
        if not spec.bench:
            continue
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # exact_dedup's \x00 column separator prints literally — keep the
        # file text-clean for reviewers/grep
        plan = plan.replace("\x00", "\\x00")
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({sum(1 for s in REGISTRY.values() if s.bench)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
