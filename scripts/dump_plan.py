"""Dump full ``explain("formatted")`` output for named queries.

Writes ``plans/r<round>/<query>_<tag>.txt`` per touched query, captured
before and after each change so plan shapes (Exchange count, join
strategy, PushedFilters, codegen spans) can be diffed.

Usage: python scripts/dump_plan.py <round> <tag> <name> [<name> ...]
       (round is e.g. 13; tag is e.g. "before" / "after"; sf dir from
        $SPARK_GRAFT_SF_DIR, default sf0.1 — plans are shape-stable
        across SFs, but the bench SF is the one whose AQE thresholds
        matter)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sleep_edf_data_pipeline_spark import registry
from sleep_edf_data_pipeline_spark.session import get_spark


def main() -> None:
    rnd = f"r{sys.argv[1]}"
    tag = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump-plan-{rnd}")
    queries, _ = registry.collect()
    for name in names:
        df = queries[name](spark, sf_dir)
        tree = (
            df._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(tree)
        print(f"wrote {path} ({len(tree.splitlines())} lines)")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
