"""AQE partition-coalescing A/B for the extended bench entries (VERDICT
r11 next-#6: audit every low-shuffle-input/high-output join for the
coalescing starvation found in the r11 fuzzy join — and pin parallelism
per-operator ONLY where an A/B shows it; r11 showed coalescing HELPS
LSH 2x and is neutral-to-helpful across the whole headline set, so the
global conf must stay on).

Runs each named golden (default: the extended set) warm median-of-3
through the noop sink with spark.sql.adaptive.coalescePartitions.enabled
set from $COALESCE (default "true"). Run once per setting — fresh JVM
per side, same as every `bench.py NAME...` A/B:

  COALESCE=true  python tools/coalesce_ab.py
  COALESCE=false python tools/coalesce_ab.py
"""

from __future__ import annotations

import os
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_dice_spark.golden import GOLDEN, bench_extended_queries  # noqa: E402
from mr_dice_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    setting = os.environ.get("COALESCE", "true")
    names = sys.argv[1:] or sorted(bench_extended_queries())
    spark = get_spark(app_name=f"coalesce-ab-{setting}")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", setting)
    spark.sparkContext.setLogLevel("ERROR")
    GOLDEN["q01_pricing_summary"].spark(spark, sf_dir).count()

    def one(q) -> float:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in names:
        q = GOLDEN[name]
        one(q)  # warm
        samples = [one(q) for _ in range(3)]
        print(
            f"COALESCE={setting} {name}: {median(samples):.3f}s "
            f"samples={[round(s, 3) for s in samples]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
