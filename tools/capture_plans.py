"""Capture .explain("formatted") for the 11 headline queries.

Usage: python tools/capture_plans.py <suffix> [query ...]
Writes <dir>/<query>_<suffix>.txt for each headline query (or the
named subset; any registered query name works), where <dir> is
$SPARK_GRAFT_PLANS_DIR if set, else plans/r16/. Plans are captured on
the bench session (session.py configs) at $SPARK_GRAFT_SF_DIR — the
same shape bench.py times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get(
    "SPARK_GRAFT_PLANS_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r16",
    ),
)


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    os.makedirs(OUT_DIR, exist_ok=True)

    import bench

    from ts_data_pipeline_spark.session import get_spark

    spark = get_spark("ts-data-pipeline-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    resolved = dict(bench._resolve())
    # r16: non-headline registered queries are capturable too (the
    # optimization rounds touch operators the headline set never
    # exercises, e.g. the ivf/kmeans legs behind ann_lsh_ivf_topk).
    from ts_data_pipeline_spark import registry

    for qname, qfn in registry.all_queries().items():
        resolved.setdefault(qname, qfn)
    for name, fn in resolved.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR capturing plan: {exc}"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
