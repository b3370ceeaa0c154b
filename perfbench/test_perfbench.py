"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q

The smoke tests start one JVM per run at scale factor 0.001 (~30 s each),
for every workload in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

from dataclasses import asdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _stream(seed: int) -> list[dict]:
    return [asdict(r) for r in workloads.fetch_requests(seed, 0.1, 200)]


def test_same_seed_same_inputs():
    assert _stream(7) == _stream(7)
    assert workloads.pipeline_order(7) == workloads.pipeline_order(7)


def test_different_seed_different_inputs():
    assert _stream(7) != _stream(8)
    orders = {tuple(workloads.pipeline_order(s)) for s in range(10)}
    assert len(orders) > 1
    assert all(sorted(o) == sorted(workloads.PIPELINE) for o in orders)


def test_every_block_holds_the_mix():
    want = dict(workloads.MIX)
    block = sum(want.values())
    reqs = workloads.fetch_requests(3, 0.1, 5 * block)
    for i in range(0, 5 * block, block):
        kinds = [r.kind for r in reqs[i:i + block]]
        assert {k: kinds.count(k) for k in want} == want


def test_water_fill_by_hand():
    # 7 rows over 3 clauses: 3/2/2, "b" capped at 1; "c" splits 1/1; the
    # spare row goes to "c", the lowest total with room, at its first url
    stats = {"a": {"x": 5, "y": 1}, "b": {"x": 1}, "c": {"x": 2, "y": 9}}
    assert checks.water_fill(stats, 7) == {"a": {"x": 2, "y": 1}, "b": {"x": 1},
                                           "c": {"x": 2, "y": 1}}
    assert checks.water_fill(stats, 100) == stats
    assert checks.water_fill(stats, 0) == {c: dict.fromkeys(u, 0) for c, u in stats.items()}


def test_water_fill_agrees_with_the_engine():
    from mr_dice_spark.operators.quota import distribute_quota_fair

    rng = random.Random(0)
    for _ in range(2000):
        stats = {f"c{c}": {f"u{u}": rng.choice((0, 1, 2, 3, 5, 10, 50))
                           for u in range(rng.randrange(1, 5))}
                 for c in range(rng.randrange(1, 5))}
        n = rng.randrange(1, 80)
        assert checks.water_fill(stats, n) == distribute_quota_fair(stats, n), (stats, n)


def test_tables_are_deterministic():
    a = datagen.tables(0.001)
    b = datagen.tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000


@pytest.fixture(scope="module")
def tiny_data(tmp_path_factory):
    return datagen.ensure(str(tmp_path_factory.mktemp("data") / "sf0.001"), 0.001)


def test_checks_catch_a_wrong_preview_and_a_wrong_code(tiny_data):
    req = next(r for r in workloads.fetch_requests(1, 0.001, 40) if r.template == "scan_agg")
    con = checks.duckdb_conn(tiny_data)
    try:
        res = con.execute(req.oracle)
        columns = [d[0] for d in res.description]
        rows = res.fetchall()
    finally:
        con.close()
    good = {"code": 0, "message": "success", "columns": columns, "output_dir": None,
            "cleaned": [dict(zip(columns, r)) for r in rows]}
    assert checks.request(req, good, tiny_data) is None
    bad = dict(good, cleaned=[dict(good["cleaned"][0], n_lines=-1)] + good["cleaned"][1:])
    assert "value mismatch" in checks.request(req, bad, tiny_data)
    assert checks.request(req, dict(good, code=-1, message="boom"), tiny_data)
    refusal = next(r for r in workloads.fetch_requests(1, 0.001, 200) if r.expect_error)
    assert checks.request(refusal, dict(good, code=0), tiny_data)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_named_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "3",
             "--trace", str(trace), "--scale", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "fetch_mix", "--seed", "1", "--seconds", "3", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
