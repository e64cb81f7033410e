"""Capture .explain("formatted") for registered suite queries.

Writes plans/$SPARK_GRAFT_PLANS_ROUND (default r16)/<query>_<tag>.txt (tag =
before/after, argv[1]) plus a one-line summary per query (Exchange count,
python-eval nodes, join strategies) to stdout, so plan-shape
regressions/improvements are visible at a glance. With no query names it
captures the bench HEADLINE queries; named queries may be any registered
query, and unknown names raise ValueError (as tools/verify_local.py does).

Usage: python tools/capture_plans.py <tag> [query ...]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE
    from movie_genre_data_pipeline_spark.session import build_session
    from movie_genre_data_pipeline_spark.suite import all_queries

    specs = all_queries()
    unknown = sorted(set(only) - specs.keys())
    if unknown:
        raise ValueError(f"unknown query names: {unknown}")
    names = only or [n for n in HEADLINE if n in specs]
    spark = build_session(app_name="mgdp-plan-capture")
    out_dir = Path(__file__).resolve().parent.parent / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16")
    out_dir.mkdir(parents=True, exist_ok=True)

    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        n_exch = len(re.findall(r"\bExchange\b", plan))
        n_py = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        )
        joins = sorted(
            set(
                re.findall(
                    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
                    plan,
                )
            )
        )
        n_scan = len(re.findall(r"Scan parquet", plan))
        print(
            f"{name}: Exchange={n_exch} pyNodes={n_py} scans={n_scan} "
            f"joins={','.join(joins) or '-'} planLines={plan.count(chr(10))}"
        )


if __name__ == "__main__":
    main()
