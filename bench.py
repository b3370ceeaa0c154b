"""Benchmark harness: runs the headline golden queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "extended": {name: sec}, "extended_total": sec,
"sf": ...}.

``python bench.py NAME...`` instead times just the named goldens in one
fresh JVM (run it once per A/B side), each with its set's method —
headline best-of-3, extended warm median-of-3 — and prints
{"mode": "named", "queries": {name: sec}}.

Isolation (VERDICT r6 next-#3): the headline set and the extended heavy set
each run in their OWN fresh process/JVM, spawned by this orchestrator with
SPARK_GRAFT_BENCH_MODE=headline|extended. Round 6 showed the 127 s extended
workload sharing a JVM with the headline queries drifts the floor-dominated
headline timings 1.1-1.4x (heap/GC/codegen-cache state), breaking
cross-round comparability; a fresh JVM per phase removes that coupling.
Setting the mode env var directly runs just that phase (same JSON shape).

Each query is fully materialized (noop sink) so the timing covers
scan -> shuffle -> result, not just plan construction. A warmup query
runs first so JVM/codegen startup isn't attributed to the first query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_MODE_VAR = "SPARK_GRAFT_BENCH_MODE"


def _timed_run(spark, q, sf_dir: str) -> float:
    """One fully materialized run, in seconds. Materialize through the
    noop sink: count() alone would let Catalyst prune the aggregate/
    projection expressions it doesn't need for row counting."""
    # operators persist() shared sub-frames, and Spark's cache manager
    # matches canonicalized plans — without clearing, a run would read the
    # previous run's cache and under-measure. localCheckpoint blocks are
    # freed by the ContextCleaner only after a GC notices the dead RDD
    # refs; nudge so queries later in the alphabet don't pay earlier
    # queries' storage debt (same fix as scale_probe)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    q.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _best_of_3(spark, name: str, q, sf_dir: str) -> float:
    # Headline method. Row count first: a sanity signal AND a per-query
    # warmup, so the timed runs never pay codegen compilation. Min of
    # repeated runs reflects steady-state throughput (what a resident
    # engine sees); measured run-to-run noise on this box is ~±20%, and
    # the min of three is a materially tighter estimate than min of two.
    n = q.spark(spark, sf_dir).count()
    samples = [_timed_run(spark, q, sf_dir) for _ in range(3)]
    print(f"# {name}: {min(samples):.3f}s (best-of-3, {n} rows) "
          f"samples={[round(t, 3) for t in samples]}", file=sys.stderr)
    return round(min(samples), 4)


def _warm_median_of_3(spark, name: str, q, sf_dir: str) -> float:
    # Extended method: the round-5+ heavy operator families (fuzzy join,
    # graph, ER, winnowing overlap, BPE train, LSH clustering), reported
    # under a separate key so the headline total stays comparable to
    # rounds 1-5.
    #
    # WARM CONVENTION (VERDICT r7 next-#5): every entry runs once
    # UNTIMED first — that run absorbs the query's own codegen
    # compilation and JIT warmth — so the timed runs re-execute the full
    # scan->shuffle->sink pipeline with a warm JVM. The r7 fresh-JVM
    # isolation split exposed ~20% cold-JIT inflation on the
    # python-heavy entries (PERFORMANCE.md:1313-1325).
    #
    # WARM-MEDIAN-3 for EVERY entry (VERDICT r9 next-#3): single warm
    # samples maximized draw variance exactly where round-over-round
    # ratios get scrutinized (triangle_counts 29.2 s in r8 vs 19.5 s
    # warm-median; label_propagation 10.88 s in r9 vs 8.6 s).
    _timed_run(spark, q, sf_dir)
    samples = [_timed_run(spark, q, sf_dir) for _ in range(3)]
    print(f"# ext {name}: {median(samples):.3f}s (warm median-of-3) "
          f"samples={[round(t, 3) for t in samples]}", file=sys.stderr)
    return round(median(samples), 4)


def _run(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    """Time each named golden with its set's method: warm median-of-3 for
    the extended set, best-of-3 for everything else."""
    from mr_dice_spark.golden import GOLDEN, bench_extended_queries

    # warmup: JVM + codegen + parquet footer caches
    GOLDEN["q01_pricing_summary"].spark(spark, sf_dir).count()
    extended = set(bench_extended_queries())
    return {
        name: (_warm_median_of_3 if name in extended else _best_of_3)(
            spark, name, GOLDEN[name], sf_dir
        )
        for name in names
    }


def _phase_main(mode: str, names: list[str], sf_dir: str) -> None:
    from mr_dice_spark.session import get_spark

    spark = get_spark(app_name=f"mr-dice-bench-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps({"mode": mode, "queries": _run(spark, sf_dir, names)}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    names = sys.argv[1:]
    if names:
        from mr_dice_spark.golden import GOLDEN

        unknown = sorted(n for n in names if n not in GOLDEN)
        if unknown:
            raise SystemExit(f"bench: unknown golden names {unknown}")
        _phase_main("named", names, sf_dir)
        return
    mode = os.environ.get(_MODE_VAR, "")
    if mode in ("headline", "extended"):
        from mr_dice_spark.golden import bench_extended_queries, bench_queries

        phase_set = bench_queries() if mode == "headline" else bench_extended_queries()
        _phase_main(mode, sorted(phase_set), sf_dir)
        return

    phase_out: dict[str, dict[str, float]] = {}
    for phase in ("headline", "extended"):
        env = dict(os.environ, **{_MODE_VAR: phase})
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.PIPE,
            stderr=sys.stderr,
            text=True,
        )
        if proc.returncode != 0:
            raise SystemExit(f"bench phase {phase} failed ({proc.returncode})")
        last = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        phase_out[phase] = json.loads(last)["queries"]

    timings = phase_out["headline"]
    extended = phase_out["extended"]
    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "golden_corpus_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extended": extended,
                "extended_total": round(sum(extended.values()), 4),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
