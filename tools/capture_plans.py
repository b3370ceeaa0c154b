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

Each capture writes the list of goldens it captured to
plans/<tag>/<suffix>.goldens. A pair is only comparable when both sides
captured the same list: expression ids, and with them the order of some
projections (profile_columns' multi-distinct Expand), depend on what else
the session planned before. So a "before" or "after" capture exits
non-zero, before capturing anything, when the other side's list exists
under the same tag and differs.
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
    names = sorted(n for n in allq if not only or n in only)
    other = {"before": "after", "after": "before"}.get(suffix)
    other_list = os.path.join(out_dir, f"{other}.goldens") if other else None
    if other_list and os.path.exists(other_list):
        with open(other_list) as fh:
            theirs = fh.read().split()
        if theirs != names:
            raise SystemExit(
                f"capture_plans: {suffix} would capture a different golden "
                f"list than {other_list}: only in {suffix} "
                f"{sorted(set(names) - set(theirs))}, only in {other} "
                f"{sorted(set(theirs) - set(names))}"
            )
    with open(os.path.join(out_dir, f"{suffix}.goldens"), "w") as fh:
        fh.write("".join(f"{n}\n" for n in names))
    spark = get_spark(app_name=f"capture-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = allq[name].spark(spark, sf_dir)
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
