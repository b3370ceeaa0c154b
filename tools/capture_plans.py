"""Capture .explain('formatted') for every bench query (headline +
extended) into plans/<tag>/<query>_<suffix>.txt — the optimization-round
evidence trail (guide §1: record plan shape before and after).

Usage:
  python tools/capture_plans.py before          # -> plans/$PLANS_TAG/<q>_before.txt
  python tools/capture_plans.py after q1 q2     # only named queries (any golden)

Environment:
  PLANS_TAG           output subdirectory under plans/ (default r11); set
                      it for every new capture so older rounds' files
                      are not overwritten
  SPARK_GRAFT_SF_DIR  scale-factor directory the goldens read (default:
                      the sf0.1 test data)

Example: a before/after pair at sf0.01, "before" run in a checkout of the
parent commit, "after" in the working tree:
  PLANS_TAG=r14 SPARK_GRAFT_SF_DIR=<testdata>/sf0.01 \
      python tools/capture_plans.py before demo9_selectivity_matrix
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_dice_spark.golden import bench_extended_queries, bench_queries  # noqa: E402
from mr_dice_spark.session import get_spark  # noqa: E402

TAG = os.environ.get("PLANS_TAG", "r11")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", TAG)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    allq = dict(bench_queries())
    allq.update(bench_extended_queries())
    if only:
        from mr_dice_spark.golden import GOLDEN

        unknown = sorted(n for n in only if n not in GOLDEN)
        if unknown:
            raise SystemExit(
                f"capture_plans: unknown query names {unknown} — a typo "
                "would otherwise produce a silently partial capture"
            )
        allq.update({n: GOLDEN[n] for n in only})
    for name, g in sorted(allq.items()):
        if only and name not in only:
            continue
        df = g.spark(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # same text explain() prints
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} plan lines, {n_ex} Exchange mentions")


if __name__ == "__main__":
    main()
