"""Capture .explain('formatted') output for named queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> <suffix> q1,q2,...
Writes plans/<tag>/<query>_<suffix>.txt for each query (guide §1: plan
evidence for every touched operator). Driver-only — no jobs run except
the scalar anchors some query builders execute while constructing plans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    from gossiphs_spark import session
    from gossiphs_spark.plans import queries as Q

    spark = session.bench_session(SF_DIR, app_name="capture_plans")
    session.EXPLAIN_CAPTURE = True  # show the computation plan, not its detached copy
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = getattr(Q, name)(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange, "
              f"{plan.count('SortMergeJoin')} SMJ, {plan.count('BroadcastHashJoin')} BHJ, "
              f"{plan.count('ArrowEvalPython') + plan.count('BatchEvalPython')} PyEval, "
              f"{plan.count('MapInPandas')} MapInPandas -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
