"""One benchmark run in a fresh Python process and JVM.

Started by ``run.py``; prints one JSON line with the run's operations,
set-up time, memory high-water mark, failures and (when traced) the
per-layer metrics. Timed regions contain only calls into the engine;
cache clearing, status-store reads and the DuckDB checks sit outside them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import workloads  # noqa: E402
from statusstore import RETENTION_CONF, StatusStore  # noqa: E402
from spans import NullTracer, Tracer, layer_metrics  # noqa: E402

# The fetch loop runs for --seconds and at least MIN_REQUESTS requests, so
# that fetch.p80_ms has ten samples beyond it on a slow machine too.
MIN_REQUESTS = 50
MAX_REQUESTS = 5000
# The driver JVM's initial heap (-Xms) per workload: about what a run of
# the workload fills. The maximum is the engine's own.
INITIAL_HEAP = {"fetch_mix": "2g", "iterative_pipeline": "4g"}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def setup(data_dir: str, work_dir: str, workload: str):
    """JVM + ``get_spark`` + ``Catalog.register_views`` + one warm-up query."""
    from mr_dice_spark.catalog import Catalog
    from mr_dice_spark.golden import GOLDEN
    from mr_dice_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # G1 grows the heap from its default start (1/64 of RAM) when it
        # measures too much GC time, so how far it grows follows the run's
        # timing: peak RSS read 1.7-2.7 GB on fetch_mix and 3.4-4.5 GB on
        # iterative_pipeline. Starting at what a run fills took that to
        # 2.5-2.8 GB and 4.4-5.0 GB; memory held beyond the start still
        # shows in peak_rss_mb.
        "spark.driver.extraJavaOptions": f"-Xms{INITIAL_HEAP[workload]}",
        **RETENTION_CONF,
    }
    spark = get_spark(app_name="perfbench", cpus=_cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    Catalog(spark, data_dir).register_views()
    GOLDEN["q01_pricing_summary"].spark(spark, data_dir).count()
    return spark


def run_fetch_mix(spark, data_dir, work_dir, seed, seconds, scale, tracer):
    from pyspark.sql import functions as F

    from mr_dice_spark import gate
    from mr_dice_spark.catalog import Catalog
    from mr_dice_spark.envelope import error, wrap
    from mr_dice_spark.filters import compile_filter
    from mr_dice_spark.operators.quota import fair_quota_topk
    from mr_dice_spark.plans import builders
    from mr_dice_spark.sources.sinks import write_json_sink

    cat = Catalog(spark, data_dir)
    tables = {"mofdb_fetch": "part", "openlam_fetch": "events", "bohrium_fetch": "part"}
    out_base = os.path.join(work_dir, "out")

    def serve(req, tracer):
        a = req.args
        if req.call == "fetch_sql":
            return gate.fetch_sql(spark, a["sql"], n_results=a["n_results"])
        if req.call == "fair_quota_topk":
            with tracer.span("filters.compile"):
                cond = compile_filter(a["filter"])
            order = [F.col(c).desc() if d else F.col(c).asc() for c, d in a["order_by"]]
            with tracer.span("operators.quota"):
                df = fair_quota_topk(cat.table(a["table"]).where(cond), a["clause_col"],
                                     a["url_col"], a["n_results"], order)
            with tracer.span("envelope.wrap"):
                return wrap(df)
        try:
            with tracer.span("plans.build"):
                df = getattr(builders, req.call)(cat.table(tables[req.call]), **a)
        except builders.InvalidParam as exc:
            return error(f"invalid parameter: {exc}")
        with tracer.span("envelope.wrap"):
            r = wrap(df)
        if req.kind == "save" and r.ok:
            path = os.path.join(out_base, f"req-{req.rid}")
            with tracer.span("sources.write_json"):
                write_json_sink(df, path, single_file=True)
            r.output_dir = path
        return r

    # untimed requests of every template first, so the timed window
    # measures a warm engine, as an agent-serving process is
    for req in workloads.warmup_requests(seed, scale):
        serve(req, NullTracer())
    tracer.instrument(gate, "validate_sql_security", "gate.validate")
    tracer.instrument(gate, "wrap", "envelope.wrap")
    requests = workloads.fetch_requests(seed, scale, MAX_REQUESTS)
    ops, pending = [], []
    deadline = time.perf_counter() + seconds
    for req in requests:
        if time.perf_counter() >= deadline and len(ops) >= MIN_REQUESTS:
            break
        with tracer.span(f"request.{req.kind}", rid=req.rid) as sp:
            t0 = time.perf_counter()
            r = serve(req, tracer)
            lat = time.perf_counter() - t0
        ops.append({"name": req.template, "kind": req.kind, "ms": lat * 1000,
                    "rows": r.n_found, "span": sp["id"] if sp else None})
        env = {"code": r.code, "message": r.message, "cleaned": r.cleaned,
               "output_dir": r.output_dir,
               "columns": r.df.columns if r.df is not None else []}
        pending.append(lambda req=req, env=env: checks.request(req, env, data_dir))
    tracer.restore()
    return ops, pending


def _clear(spark) -> None:
    # operators persist shared sub-frames and leave localCheckpoint blocks
    # that only a JVM GC releases; bench.py clears both between queries
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def run_goldens(spark, data_dir, warm_dir, names, tracer, store):
    """Each golden once, in order: construct (``q.spark``, with its eager
    jobs) then collect. An untimed pass over the tiny ``warm_dir`` tables
    first compiles the same plans. Without it the first golden of a run
    pays the JVM's warm-up, 4-6 s on 4 cores, so the seeded order would
    decide the result; bench.py's extended set warms up the same way."""
    from mr_dice_spark.golden import GOLDEN

    for name in names:
        _clear(spark)
        GOLDEN[name].spark(spark, warm_dir).collect()
    ops, pending = [], []
    for name in names:
        q = GOLDEN[name]
        _clear(spark)
        with tracer.span("golden", rid=len(ops)) as sp:
            t0 = time.perf_counter()
            with tracer.span("golden.construct"):
                df = q.spark(spark, data_dir)
            with tracer.span("golden.execute"):
                rows = df.collect()
            lat = time.perf_counter() - t0
        op = {"name": name, "kind": "golden", "ms": lat * 1000, "rows": len(rows),
              "span": sp["id"] if sp else None}
        if tracer.enabled:
            op["pinned_bytes"] = store.pinned_bytes()
        ops.append(op)
        got = checks.Rows(rows, df.columns)
        pending.append(lambda name=name, got=got: checks.golden(name, GOLDEN[name].oracle, got, data_dir))
    return ops, pending


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warm-data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--scale", type=float, required=True)
    args = ap.parse_args()

    spark = setup(args.data, args.work, args.workload)
    setup_s = time.perf_counter() - T_START
    store = StatusStore(spark)
    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.workload == "fetch_mix":
        ops, pending = run_fetch_mix(spark, args.data, args.work, args.seed,
                                      args.seconds, args.scale, tracer)
    else:
        names = workloads.pipeline_order(args.seed)
        ops, pending = run_goldens(spark, args.data, args.warm_data, names, tracer, store)

    # memory is read before the DuckDB checks, which run in this process
    py_mb, jvm_mb = _vm_hwm_mb(os.getpid()), _vm_hwm_mb(store.jvm_pid())
    print(f"# peak rss: python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB", file=sys.stderr)
    out = {
        "setup_s": setup_s,
        "peak_rss_mb": py_mb + jvm_mb,
        "cpus": _cpus(),
        "ops": [{k: v for k, v in op.items() if k != "span"} for op in ops],
    }
    if args.trace:
        layers, jobs = layer_metrics(tracer, store, ops)
        out["layers"] = layers
        path = os.path.join(args.work, f"trace-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path, jobs)
        out["trace_file"] = path
    spark.stop()
    t_check = time.perf_counter()
    out["failures"] = [why for why in (check() for check in pending) if why]
    out["check_s"] = time.perf_counter() - t_check
    print(json.dumps(out))


if __name__ == "__main__":
    main()
