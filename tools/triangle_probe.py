"""Decade probe for the adjacency-array triangle path (VERDICT r11
next-#7, guide §5): grow the edge count x10/x100 past the sf0.1 golden's
~1.2M edges, with and without a planted hub, and record wall clock, the
max packed-array length, and the adjacency frame's total payload — the
O(sqrt m) bound the operator's docstring claims, checked empirically on
a skewed degree distribution rather than by argument.

Graphs are deterministic (xxhash64-derived endpoints, no rand() — guide
§2.5's retry-safety rule applies to probes too). The x10 case crosses
``graph._BCAST_MAX_ROWS`` (the one broadcast ceiling, applied by
``graph._node_side``) so it exercises the shuffle_hash fallback path, not
just the broadcast path the golden uses.

Run: python tools/triangle_probe.py [m_base] [factors ...]
     (defaults: m_base=1_200_000, factors 1 10 30)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_dice_spark.operators.graph import triangle_counts  # noqa: E402
from mr_dice_spark.session import get_spark  # noqa: E402


def synth_edges(spark, m: int, n: int, hub_deg: int = 0):
    """m pseudo-random edges over n nodes (+ optional hub 0 with
    ``hub_deg`` distinct neighbors planted on top)."""
    base = spark.range(m).select(
        F.pmod(F.xxhash64("id"), F.lit(n)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") + F.lit(10_000_019)), F.lit(n)).alias("dst"),
    )
    if hub_deg:
        hub = spark.range(hub_deg).select(
            F.lit(0).cast("long").alias("src"), (F.col("id") + 1).alias("dst")
        )
        base = base.union(hub)
    return base


def main() -> None:
    m_base = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    factors = [int(x) for x in sys.argv[2:]] or [1, 10, 30]
    spark = get_spark(app_name="triangle-probe")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for fac in factors:
        for hub in (0, 50_000):
            m = m_base * fac
            n = max(2, m // 60)  # keep the golden's ~60 avg-degree regime
            edges = synth_edges(spark, m, n, hub_deg=hub)
            t0 = time.perf_counter()
            triangle_counts(edges).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            # re-derive the oriented adjacency stats (probe-only pass)
            e = (
                edges.select(F.col("src").cast("long").alias("a"), F.col("dst").alias("b"))
                .where(F.col("a") != F.col("b"))
                .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
                .distinct()
            )
            und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("dg")).withColumnRenamed("a", "n")
            ed = (
                e.join(deg.select(F.col("n").alias("a"), F.col("dg").alias("da")), "a")
                .join(deg.select(F.col("n").alias("b"), F.col("dg").alias("db")), "b")
            )
            a_first = (F.col("da") < F.col("db")) | (
                (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
            )
            orient = ed.select(F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"))
            st = (
                orient.groupBy("u")
                .agg(F.count(F.lit(1)).alias("od"))
                .agg(
                    F.max("od").alias("max_outdeg"),
                    F.sum("od").alias("m_canon"),
                    F.max(F.col("od") * 8).alias("max_arr_bytes"),
                )
                .first()
            )
            row = {
                "factor": fac,
                "hub_deg": hub,
                "m_input": m + hub,
                "m_canonical": int(st["m_canon"]),
                "sqrt_m": int(math.isqrt(int(st["m_canon"]))),
                "max_outdeg": int(st["max_outdeg"]),
                "max_arr_bytes": int(st["max_arr_bytes"]),
                "wall_s": round(wall, 2),
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
    # scaling exponent between consecutive factors (hubless rows)
    plain = [r for r in rows if r["hub_deg"] == 0]
    for lo, hi in zip(plain, plain[1:]):
        k = math.log(hi["wall_s"] / lo["wall_s"]) / math.log(
            hi["m_canonical"] / lo["m_canonical"]
        )
        print(f"# wall-clock exponent {lo['factor']}x -> {hi['factor']}x: {k:.2f}")


if __name__ == "__main__":
    main()
