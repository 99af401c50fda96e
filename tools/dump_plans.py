"""Dump `.explain("formatted")` for registry queries to
``plans/<round>/<name>_<suffix>.txt`` (optimization-round evidence).

Run from the repo root:

    python tools/dump_plans.py r10 before          # every query
    python tools/dump_plans.py r10 after text_metrics graph_bfs

Plans are captured at the bench scale ($SPARK_GRAFT_SF_DIR, default
sf0.1) with the bench session (AQE on) so the committed text matches
what the bench actually executes (``isFinalPlan=false`` initial plans
— the plan-shape facts the optimization notes cite: Exchange count,
join strategy, PushedFilters/ReadSchema, codegen spans, *EvalPython
nodes — are all visible in the initial plan).
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from geoestate_etl_spark.plans import all_queries
from geoestate_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit("usage: dump_plans.py <round> before|after [names...]")
    rnd, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])  # optional: dump just these queries
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump-plans-{rnd}")
    for name, spec in all_queries().items():
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record, keep dumping
            plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
