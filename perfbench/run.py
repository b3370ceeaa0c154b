"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload fetch_mix --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

* ``fetch_mix`` — a closed loop of one client sending seeded Mr-Dice
  requests (read-only SQL, OPTIMADE filter + fair-quota top-k, parametric
  fetches, JSON saves, refusals) for ``--seconds``;
* ``iterative_pipeline`` — the three goldens that iterate while their plan
  is built (label propagation, LSH clustering, BPE), once, in seeded order.

``iterative_pipeline`` ignores ``--seconds``: it runs one fixed pass, after
an untimed pass over tiny tables that warms the JVM.

Each run generates (once, cached under ``.perfbench/``) the benchmark's
tables, starts a fresh worker process and JVM on ``local[<cpus>]``, and
checks every output against DuckDB outside the timed region. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics from the
status stores and spans with ``--trace 1``. Every metric is also printed
to stderr with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 170

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _median_kind(ops: list[dict], kind: str) -> float:
    ms = [op["ms"] for op in ops if op["kind"] == kind]
    return statistics.median(ms) if ms else 0.0


def _p80(ms: list[float]) -> float:
    """Nearest-rank 80th percentile: the highest round percentile with ten
    samples beyond it in a fetch run, which serves at least 50 requests."""
    ordered = sorted(ms)
    return ordered[max(0, -(-4 * len(ordered) // 5) - 1)]


def end_to_end(res: dict) -> dict[str, float]:
    ms = [op["ms"] for op in res["ops"]]
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "op_p50_ms": statistics.median(ms),
        "op_mean_ms": statistics.fmean(ms),
    }


def per_layer(res: dict) -> dict[str, float]:
    ops = res["ops"]
    fetch = [op["ms"] for op in ops if op["kind"] != "golden"]
    out = dict(res["layers"])
    out.update({
        "run.ops": float(len(ops)),
        "fetch.p80_ms": _p80(fetch) if fetch else 0.0,
        "fetch.sql_p50_ms": _median_kind(ops, "sql"),
        "fetch.filter_quota_p50_ms": _median_kind(ops, "filter_quota"),
        "fetch.param_p50_ms": _median_kind(ops, "param"),
        "fetch.save_p50_ms": _median_kind(ops, "save"),
    })
    return out


def _stop_group(pgid: int, timeout_s: float = 10.0) -> None:
    """Kill what is left of the worker's process group (JVM, Python
    daemons) and wait until the group is gone."""
    deadline = time.monotonic() + timeout_s
    try:
        os.killpg(pgid, signal.SIGKILL)
        while time.monotonic() < deadline:
            time.sleep(0.05)
            os.killpg(pgid, 0)
    except ProcessLookupError:
        pass


# Tables of the untimed pass that warms the JVM before the golden workload.
WARM_SCALE = 0.001


def _run_worker(args, data_dir: str, warm_dir: str) -> dict:
    tmp = os.path.join(WORK, "tmp")
    # leftovers of a run that was killed
    for stale in ("out", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    os.makedirs(tmp)
    # every scratch file of Python, the JVMs and Spark stays in the checkout
    env = dict(os.environ, TMPDIR=tmp, TZ="UTC", PYTHONHASHSEED="0",
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--warm-data", warm_dir, "--work", WORK,
           "--scale", str(args.scale)]
    # own process group, so a stuck run is stopped with its JVM
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=ROOT, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop_group(proc.pid)
        proc.communicate()
        raise SystemExit(f"worker exceeded {WORKER_TIMEOUT_S} s")
    finally:
        _stop_group(proc.pid)
    if proc.returncode != 0:
        raise SystemExit(f"worker failed with exit code {proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Mr-Dice engine benchmark: one run of one workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="TPC-H scale factor of the generated tables (default 0.1)")
    args = ap.parse_args(argv)

    for needed in ("mr_dice_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            raise SystemExit(f"not a checkout of the engine: {needed} is missing")
    declared = _declared()

    import datagen

    data_dir, warm_dir = (datagen.ensure(os.path.join(WORK, "data", f"sf{sf:g}"), sf)
                          for sf in (args.scale, WARM_SCALE))
    res = _run_worker(args, data_dir, warm_dir)

    values = end_to_end(res)
    if args.trace:
        values.update(per_layer(res))
    specs = declared["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
    for op in res["ops"]:
        print(f"  {op['kind']:<12} {op['name']:<32} {op['ms']:10.1f} ms  {op['rows']} rows",
              file=sys.stderr)
    for f in res["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    n_ops = len(res["ops"])
    print(f"# {args.workload} seed={args.seed} trace={args.trace} cpus={res['cpus']} "
          f"ops={n_ops} failed={len(res['failures'])} check_s={res['check_s']:.1f}",
          file=sys.stderr)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    for name, v in sorted(values.items()):
        print(f"{name} = {v:.6g} {units[name]}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": n_ops,
        "failed": len(res["failures"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
