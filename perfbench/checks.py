"""Correctness checks, run after the timed region of a run.

Every check compares engine output with DuckDB over the same Parquet files
through the corpus comparator ``tests/oracle.py::compare_spark_duckdb``
(column-name-sorted, order-insensitive, full-precision floats). The
comparator only calls ``.collect()`` and ``.columns`` on its first argument,
so rows already collected inside the timed region are handed over in a
``Rows`` holder instead of re-running the query.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
from typing import Any, Optional

from workloads import Request, quota_counts_sql, quota_oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))

from oracle import compare_spark_duckdb, duckdb_conn  # noqa: E402

# The reference's envelope codes, stated here rather than imported from the
# engine, so that the check does not follow a change to them.
OK, ERROR, NO_RESULTS = 0, -1, -9999


class Rows:
    """Collected rows plus column names, shaped like a DataFrame for the
    comparator."""

    def __init__(self, rows: list[tuple], columns: list[str]):
        self.rows = rows
        self.columns = columns

    def collect(self) -> list[tuple]:
        return self.rows


def golden(name: str, oracle: Optional[str], rows: Rows, sf_dir: str) -> Optional[str]:
    """None when the golden's rows match its DuckDB oracle, else why not.
    A golden without an oracle is checked for a non-empty result, as the
    corpus sweep does."""
    if oracle is None:
        return None if rows.rows else f"{name}: empty result"
    ok, msg = compare_spark_duckdb(rows, oracle, sf_dir)
    return None if ok else f"{name}: {msg}"


def _preview_rows(result: dict[str, Any]) -> Rows:
    cols = result["columns"]
    return Rows([tuple(d[c] for c in cols) for d in result["cleaned"]], cols)


def _saved_rows(path: str, columns: list[str]) -> Rows:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.json"))):
        with open(part) as fh:
            rows.extend(tuple(json.loads(line).get(c) for c in columns) for line in fh)
    return Rows(rows, columns)


def water_fill(stats: dict[str, dict[str, int]], n: int) -> dict[str, dict[str, int]]:
    """The reference's fair split of ``n`` result rows over (clause, url)
    groups of the capacities ``stats``, written out step by step rather than
    imported from the engine, so that the check does not follow a change to
    the engine's allocation:

    1. split ``n`` evenly over the clauses that have rows (earlier clauses
       take the remainder), each capped at its capacity;
    2. split each clause's share the same way over its urls, then hand out
       what the caps left over one row at a time, cycling the urls in order;
    3. hand out the rest of ``n`` in passes: each pass gives one row to
       every clause whose total is the current minimum, in order, taking it
       from the clause's next url with room left; a url that fills up drops
       out of its clause's cycle.
    """
    plan = {c: {u: 0 for u in urls} for c, urls in stats.items()}
    active = [c for c, urls in stats.items() if sum(urls.values()) > 0]
    if n <= 0 or not active:
        return plan

    def split(budget: int, caps: dict[str, int]) -> dict[str, int]:
        share, extra = divmod(budget, len(caps))
        return {k: min(cap, share + (i < extra)) for i, (k, cap) in enumerate(caps.items())}

    targets = split(n, {c: sum(stats[c].values()) for c in active})
    for c in active:
        got = split(targets[c], stats[c])
        short = targets[c] - sum(got.values())
        while short:
            for u in got:
                if short and got[u] < stats[c][u]:
                    got[u] += 1
                    short -= 1
        plan[c] = got

    left = n - sum(sum(plan[c].values()) for c in active)
    room = {c: [u for u in stats[c] if plan[c][u] < stats[c][u]] for c in active}
    nxt = dict.fromkeys(active, 0)
    while left and any(room.values()):
        floor = min(sum(plan[c].values()) for c in active if room[c])
        for c in active:
            if left and room[c] and sum(plan[c].values()) == floor:
                i = nxt[c] % len(room[c])
                u = room[c][i]
                plan[c][u] += 1
                left -= 1
                if plan[c][u] == stats[c][u]:
                    room[c].pop(i)
                    nxt[c] = i
                else:
                    nxt[c] = i + 1
    return plan


def _quota_sql(req: Request, sf_dir: str) -> str:
    con = duckdb_conn(sf_dir)
    try:
        counts = con.execute(quota_counts_sql(req)).fetchall()
    finally:
        con.close()
    stats: dict[str, dict[str, int]] = {}
    for c, u, n in sorted(counts, key=lambda r: (str(r[0]), str(r[1]))):
        stats.setdefault(c, {})[u] = n
    return quota_oracle(req, water_fill(stats, req.args["n_results"]))


def request(req: Request, result: dict[str, Any], sf_dir: str) -> Optional[str]:
    """None when the request's envelope is right, else why not.

    A refusal must answer code -1. Any other request must answer 0 with the
    oracle's rows as preview, or -9999 when the oracle finds no rows; a save
    must also have written exactly the oracle's rows as JSON.
    """
    code = result["code"]
    if req.expect_error:
        return None if code == ERROR else f"request {req.rid}: code {code}, expected -1"
    if code not in (OK, NO_RESULTS):
        return f"request {req.rid} ({req.template}): code {code}: {result['message'][:200]}"
    if (code == OK) != bool(result["cleaned"]):
        return f"request {req.rid}: code {code} with {len(result['cleaned'])} preview rows"
    oracle = _quota_sql(req, sf_dir) if req.quota_where else req.oracle
    if code == NO_RESULTS:
        rows = Rows([], result["columns"])
    elif req.kind == "save":
        rows = _saved_rows(result["output_dir"], result["columns"])
    else:
        rows = _preview_rows(result)
    ok, msg = compare_spark_duckdb(rows, oracle, sf_dir)
    if result.get("output_dir"):
        shutil.rmtree(result["output_dir"], ignore_errors=True)
    return None if ok else f"request {req.rid} ({req.template}): {msg}"
