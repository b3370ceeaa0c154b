"""Benchmark harness: runs the headline golden queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "extended": {name: sec}, "extended_total": sec,
"sf": ...}.

``python bench.py [--conf KEY=VALUE]... NAME...`` instead times just the
named goldens in one fresh JVM (run it once per A/B side), each with its
set's method — headline best-of-3, extended warm median-of-3 — and prints
{"mode": "named", "queries": {name: sec}, "conf": {key: value},
"layers": {name: {metric: value}}}:

* ``--conf`` (repeatable) sets a Spark conf on the session, after the
  session defaults, so it overrides them; e.g. an AQE coalescing A/B is
  the same command with and without
  ``--conf spark.sql.adaptive.coalescePartitions.enabled=false``.
* ``layers`` is each query's Spark record, read after its runs from the
  in-process status stores through perfbench's ``Tracer``,
  ``StatusStore`` and ``layer_metrics``: jobs, stages and tasks; job,
  executor run, CPU and GC ms; input rows, shuffle read/write and spill
  bytes; driver time outside jobs (``spark.*``, ``driver.*``) — each a
  mean per timed run — plus ``golden.construct_ms``/``_jobs`` (building
  the frame, eager pins included), ``golden.execute_ms`` and
  ``storage.pinned_bytes``, the most cached/checkpointed bytes held after
  a run (blocks of earlier runs are unpinned before each traced run).

A scale comparison runs the same names on a replica fixture:
``SPARK_GRAFT_SF_DIR=$(python tools/replicate.py 10) python bench.py NAME...``.

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

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# perfbench's tracer and status-store reader, imported rather than copied
sys.path.append(os.path.join(ROOT, "perfbench"))

from spans import NullTracer, Tracer, layer_metrics  # noqa: E402
from statusstore import RETENTION_CONF, StatusStore  # noqa: E402

_MODE_VAR = "SPARK_GRAFT_BENCH_MODE"
# layer_metrics keys a golden run fills; the fetch-path spans and
# scan.rows_per_result_row (a noop write returns no rows) are dropped
_LAYER_PREFIXES = ("spark", "driver", "golden", "storage")


class _Layers:
    """Per-query layer records of a named run. One Tracer per process:
    span ids restart at s0 in every new Tracer and jobs are matched to
    spans by id. Each query's record is read from its own spans only
    (``rid`` = the golden's name), since layer_metrics averages the
    construct spans over every span it is given."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracer = Tracer(spark)
        self.store = StatusStore(spark)
        self.ops: dict[str, list[dict]] = {}

    def unpin(self) -> None:
        """Before a traced run: drop every block earlier runs pinned. The GC
        nudge frees dead localCheckpoint blocks only asynchronously, so the
        pinned-bytes read after a run would otherwise include (or, freed
        mid-run, lose) blocks of earlier runs and queries."""
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def end_run(self, name: str, span: dict) -> None:
        self.store.settle()
        pinned = self.store.pinned_bytes()
        self.ops.setdefault(name, []).append({"span": span["id"], "rows": 0, "pinned_bytes": pinned})

    def records(self) -> dict[str, dict[str, float]]:
        out = {}
        for name, ops in self.ops.items():
            view = SimpleNamespace(spans=[sp for sp in self.tracer.spans if sp["rid"] == name])
            metrics, _ = layer_metrics(view, self.store, ops)
            out[name] = {
                k: round(v, 3) for k, v in metrics.items()
                if k.split(".")[0] in _LAYER_PREFIXES
            }
        return out


def _timed_run(spark, q, sf_dir: str, layers: _Layers | None = None) -> float:
    """One fully materialized run, in seconds. Materialize through the
    noop sink: count() alone would let Catalyst prune the aggregate/
    projection expressions it doesn't need for row counting. With
    ``layers``, the run is traced and its layer reads follow the timed
    region."""
    # operators persist() shared sub-frames, and Spark's cache manager
    # matches canonicalized plans — without clearing, a run would read the
    # previous run's cache and under-measure. localCheckpoint blocks are
    # freed by the ContextCleaner only after a GC notices the dead RDD
    # refs; nudge so queries later in the alphabet don't pay earlier
    # queries' storage debt
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    if layers:
        layers.unpin()
    tracer = layers.tracer if layers else NullTracer()
    t0 = time.perf_counter()
    with tracer.span("golden.run", rid=q.name) as span:
        with tracer.span("golden.construct"):
            df = q.spark(spark, sf_dir)
        with tracer.span("golden.execute"):
            df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    if layers:
        layers.end_run(q.name, span)
    return elapsed


def _best_of_3(spark, name: str, q, sf_dir: str, layers: _Layers | None) -> float:
    # Headline method. Row count first: a sanity signal AND a per-query
    # warmup, so the timed runs never pay codegen compilation. Min of
    # repeated runs reflects steady-state throughput (what a resident
    # engine sees); measured run-to-run noise on this box is ~±20%, and
    # the min of three is a materially tighter estimate than min of two.
    n = q.spark(spark, sf_dir).count()
    samples = [_timed_run(spark, q, sf_dir, layers) for _ in range(3)]
    print(f"# {name}: {min(samples):.3f}s (best-of-3, {n} rows) "
          f"samples={[round(t, 3) for t in samples]}", file=sys.stderr)
    return round(min(samples), 4)


def _warm_median_of_3(spark, name: str, q, sf_dir: str, layers: _Layers | None) -> float:
    # Extended method: the heavy operator families (fuzzy join, graph, ER,
    # winnowing overlap, BPE train, LSH clustering), reported under a
    # separate key so the headline total stays comparable across rounds.
    # One UNTIMED run first absorbs the query's own codegen compilation
    # and JIT warmth (~20% cold-JIT inflation on the python-heavy
    # entries, PERFORMANCE.md:1313-1325); the median of three warm runs
    # then damps single-draw variance (triangle_counts read 29.2 s in one
    # round against a 19.5 s warm median).
    _timed_run(spark, q, sf_dir)
    samples = [_timed_run(spark, q, sf_dir, layers) for _ in range(3)]
    print(f"# ext {name}: {median(samples):.3f}s (warm median-of-3) "
          f"samples={[round(t, 3) for t in samples]}", file=sys.stderr)
    return round(median(samples), 4)


def _run(spark, sf_dir: str, names: list[str], layers: _Layers | None) -> dict[str, float]:
    """Time each named golden with its set's method: warm median-of-3 for
    the extended set, best-of-3 for everything else."""
    from mr_dice_spark.golden import GOLDEN, bench_extended_queries

    # warmup: JVM + codegen + parquet footer caches
    GOLDEN["q01_pricing_summary"].spark(spark, sf_dir).count()
    extended = set(bench_extended_queries())
    return {
        name: (_warm_median_of_3 if name in extended else _best_of_3)(
            spark, name, GOLDEN[name], sf_dir, layers
        )
        for name in names
    }


def _phase_main(mode: str, names: list[str], sf_dir: str, conf: dict | None = None) -> None:
    """One phase in this process; a named run (``conf`` given) is traced."""
    from mr_dice_spark.session import get_spark

    # status-store retention is a core conf: only a new session takes it
    extra = None if conf is None else {**RETENTION_CONF, **conf}
    spark = get_spark(app_name=f"mr-dice-bench-{mode}", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    layers = None if conf is None else _Layers(spark)
    out = {"mode": mode, "queries": _run(spark, sf_dir, names, layers)}
    if layers:
        out.update(conf=conf, layers=layers.records())
    print(json.dumps(out))


def _conf_pair(arg: str) -> tuple[str, str]:
    key, sep, value = arg.partition("=")
    if not (key and sep):
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {arg!r}")
    return key, value


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--conf", action="append", type=_conf_pair, default=[],
                    metavar="KEY=VALUE", help="Spark conf for a named run")
    ap.add_argument("names", nargs="*", metavar="NAME", help="goldens to time")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    if args.names:
        from mr_dice_spark.golden import GOLDEN

        unknown = sorted(n for n in args.names if n not in GOLDEN)
        if unknown:
            ap.error(f"unknown golden names {unknown}")
        _phase_main("named", args.names, sf_dir, dict(args.conf))
        return
    if args.conf:
        ap.error("--conf applies to a named run")
    mode = os.environ.get(_MODE_VAR, "")
    if mode in ("headline", "extended"):
        from mr_dice_spark.golden import bench_extended_queries, bench_queries

        phase_set = bench_queries() if mode == "headline" else bench_extended_queries()
        _phase_main(mode, sorted(phase_set), sf_dir)
        return

    phase_out: dict[str, dict[str, float]] = {}
    for phase in ("headline", "extended"):
        env = dict(os.environ, **{_MODE_VAR: phase})
        proc = subprocess.run([sys.executable, os.path.abspath(__file__)], env=env,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        if proc.returncode != 0:
            raise SystemExit(f"bench phase {phase} failed ({proc.returncode})")
        last = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
        phase_out[phase] = json.loads(last)["queries"]

    timings = phase_out["headline"]
    extended = phase_out["extended"]
    total = round(sum(timings.values()), 4)
    print(json.dumps({
        "metric": "golden_corpus_wall_clock", "value": total, "unit": "sec",
        "queries": timings, "extended": extended,
        "extended_total": round(sum(extended.values()), 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
