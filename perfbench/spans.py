"""Spans around the benchmark's calls into each layer, kept in memory.

A span records name, start, end, parent and request id. While a span is
open its id is the Spark job group of the calling thread, so every job
(and through it every stage) is attributed to exactly the span that
submitted it. ``layer_metrics`` joins the spans with the status store
after the run; ``NullTracer`` is the untraced run's stand-in.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from typing import Any, Iterator, Optional

from statusstore import Job, Stage, StatusStore

_JOB_GROUP = "spark.jobGroup.id"


class NullTracer:
    enabled = False

    def span(self, name: str, rid: Optional[int] = None):
        return contextlib.nullcontext()

    def instrument(self, module, attr: str, name: str) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._patched: list[tuple[Any, str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str, rid: Optional[int] = None) -> Iterator[dict[str, Any]]:
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(_JOB_GROUP, sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, parent["id"] if parent else None)

    def instrument(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` in a span until ``restore``: reaches calls the
        engine makes internally (e.g. ``gate.fetch_sql`` -> ``wrap``)."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def write(self, path: str, jobs: list[Job]) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")
            for j in jobs:
                fh.write(json.dumps({"job": j.job_id, "group": j.group,
                                     "submit_ms": j.submit_ms,
                                     "complete_ms": j.complete_ms,
                                     "stages": j.stage_ids}) + "\n")


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# Per-call layer spans of the fetch path and the golden calls; each yields
# ``<name>_ms`` (mean per call).
LAYER_SPANS = (
    "gate.validate",
    "filters.compile",
    "plans.build",
    "operators.quota",
    "envelope.wrap",
    "sources.write_json",
    "golden.construct",
    "golden.execute",
)
# Spans whose Spark job count is reported as ``<name>_jobs``.
JOB_SPANS = ("operators.quota", "golden.construct")


def layer_metrics(
    tracer: Tracer, store: StatusStore, ops: list[dict[str, Any]]
) -> tuple[dict[str, float], list[Job]]:
    """Per-layer metrics of a traced run, and the jobs they were read from.

    ``ops`` are the measured operations, each with the id of its root span
    and its result row count. Spark counters are means per operation;
    layer times are means per call; ratios are taken over run totals.
    """
    store.settle()
    jobs = store.jobs()
    stages = store.stages()
    children: dict[Optional[str], list[str]] = {}
    by_id = {sp["id"]: sp for sp in tracer.spans}
    for sp in tracer.spans:
        children.setdefault(sp["parent"], []).append(sp["id"])
    jobs_by_span: dict[str, list[Job]] = {}
    for j in jobs:
        jobs_by_span.setdefault(j.group, []).append(j)

    def subtree(span_id: str) -> list[str]:
        out, todo = [], [span_id]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s, ()))
        return out

    seen_stages: set[int] = set()
    tot = Stage()
    n_jobs = n_stages = 0
    job_ms = outside_ms = 0.0
    result_rows = 0
    for op in ops:
        root = by_id[op["span"]]
        op_jobs = [j for s in subtree(root["id"]) for j in jobs_by_span.get(s, ())]
        n_jobs += len(op_jobs)
        job_ms += sum(j.complete_ms - j.submit_ms for j in op_jobs)
        lo, hi = root["start"] * 1000, root["end"] * 1000
        busy = _covered_ms([(j.submit_ms, j.complete_ms) for j in op_jobs], lo, hi)
        outside_ms += (hi - lo) - busy
        for j in op_jobs:
            for sid in j.stage_ids:
                st = stages.get(sid)
                if st is None or sid in seen_stages:
                    continue
                seen_stages.add(sid)
                n_stages += 1
                for k in vars(tot):
                    setattr(tot, k, getattr(tot, k) + getattr(st, k))
        result_rows += op["rows"]

    n_ops = max(len(ops), 1)
    out = {
        "spark.jobs": n_jobs / n_ops,
        "spark.stages": n_stages / n_ops,
        "spark.tasks": tot.tasks / n_ops,
        "spark.job_ms": job_ms / n_ops,
        "spark.executor_run_ms": tot.run_ms / n_ops,
        "spark.executor_cpu_ms": tot.cpu_ms / n_ops,
        "spark.gc_ms": tot.gc_ms / n_ops,
        "spark.shuffle_read_bytes": tot.shuffle_read_bytes / n_ops,
        "spark.shuffle_write_bytes": tot.shuffle_write_bytes / n_ops,
        "spark.spill_bytes": tot.spill_bytes / n_ops,
        "spark.input_rows": tot.input_rows / n_ops,
        "spark.cpu_per_run": tot.cpu_ms / tot.run_ms if tot.run_ms else 0.0,
        "scan.rows_per_result_row": tot.input_rows / max(result_rows, 1),
        "driver.outside_jobs_ms": outside_ms / n_ops,
    }
    for name in LAYER_SPANS:
        spans = [sp for sp in tracer.spans if sp["name"] == name]
        out[f"{name}_ms"] = (
            statistics.fmean((sp["end"] - sp["start"]) * 1000 for sp in spans) if spans else 0.0
        )
        if name in JOB_SPANS:
            n = sum(len(jobs_by_span.get(s, ())) for sp in spans for s in subtree(sp["id"]))
            out[f"{name}_jobs"] = n / len(spans) if spans else 0.0
    out["storage.pinned_bytes"] = float(max((op.get("pinned_bytes", 0) for op in ops), default=0))
    return out, jobs
