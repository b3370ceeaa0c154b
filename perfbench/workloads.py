"""Seeded inputs for the two workloads (pure Python, no Spark).

``fetch_requests(seed, scale)`` is the Mr-Dice agent traffic of
``fetch_mix``: templated read-only SQL, OPTIMADE filter + fair-quota top-k,
parametric MOFdb/OpenLAM/Bohrium fetches, a "save" share that writes the
full result as JSON, and a share the engine must refuse. Each request also
carries what the correctness check needs: the DuckDB SQL that produces the
same preview, or the fact that the engine must answer code -1.

``pipeline_order`` permutes the ``iterative_pipeline`` goldens per seed.
Templates repeat with new literals, as agent traffic does; literals scale
with the table sizes so a run at a small scale factor still hits rows.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from typing import Any, Iterator, Optional

from datagen import EVENT_TYPES, NOUNS, PART_TYPES

WORKLOADS = ("fetch_mix", "iterative_pipeline")

# Goldens whose plan construction runs eager checkpoint/count rounds.
PIPELINE = (
    "label_propagation_communities",
    "lsh_single_linkage_clusters",
    "bpe_train_merges_corpus",
)

# Request kinds and their count in every block of 9 consecutive requests:
# the seed shuffles each block, so any prefix of a run holds the same mix.
# No record of real agent traffic exists, so these shares are assumptions:
# the four kinds that return rows get equal shares, as nothing says one is
# more common than another, and refusals, a small share of real traffic,
# get one request in nine.
MIX = (
    ("sql", 2),
    ("filter_quota", 2),
    ("param", 2),
    ("save", 2),
    ("reject", 1),
)


@dataclass
class Request:
    """One agent request. ``call`` names the engine entry point and ``args``
    its arguments; ``oracle`` is the DuckDB SQL whose rows must equal the
    preview (None for refusals, whose expected code is -1)."""

    rid: int
    kind: str
    template: str
    call: str
    args: dict[str, Any]
    oracle: Optional[str] = None
    expect_error: bool = False
    # DuckDB predicate equal to a fair-quota request's filter
    quota_where: Optional[str] = None


def _sizes(scale: float) -> dict[str, int]:
    return {
        "part": max(int(200_000 * scale), 10),
        "orders": max(int(1_500_000 * scale), 10),
        "customer": max(int(150_000 * scale), 10),
    }


def _day(base: str, offset: int) -> str:
    return (dt.date.fromisoformat(base) + dt.timedelta(days=offset)).isoformat()


def _blocks(rng: random.Random, items: list) -> Iterator:
    """Endless stream of ``items``, each block a fresh shuffle."""
    while True:
        block = list(items)
        rng.shuffle(block)
        yield from block


def _sql(rng: random.Random, n: dict[str, int], template: str) -> tuple[str, int]:
    """SQL text and its LIMIT, which is also the request's ``n_results``."""
    if template == "point_limit":
        sql = (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
            f"FROM lineitem WHERE l_partkey = {rng.randrange(n['part'])} "
            "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice LIMIT 10"
        )
        return sql, 10
    if template == "scan_agg":
        sql = (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, "
            "SUM(l_quantity) AS sum_qty, MIN(l_extendedprice) AS min_price, "
            "MAX(l_extendedprice) AS max_price FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{_day('1995-01-02', rng.randrange(2000))} 00:00:00' "
            f"AND l_discount <= {rng.randrange(2, 11) / 100} "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus LIMIT 10"
        )
        return sql, 10
    if template == "window_topk":
        lo = rng.randrange(max(n["customer"] - 10, 1))
        sql = (
            "SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER ("
            "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk "
            f"FROM orders WHERE o_custkey BETWEEN {lo} AND {lo + 9}) t "
            "WHERE rk <= 3 ORDER BY o_custkey, rk LIMIT 30"
        )
        return sql, 30
    else:
        start = _day("1995-01-01", rng.randrange(2300))
        sql = (
            "SELECT n_name, COUNT(*) AS n_lines, SUM(l_quantity) AS sum_qty "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE o_orderdate >= TIMESTAMP '{start} 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{_day(start, 60)} 00:00:00' "
            "GROUP BY n_name ORDER BY sum_qty DESC, n_name LIMIT 10"
        )
        return sql, 10
    raise ValueError(template)


def _filter_quota(rng: random.Random, template: str) -> tuple[dict, str]:
    """Request arguments and the equivalent DuckDB predicate."""
    if template == "events_by_type":
        lo = round(rng.uniform(0, 150), 1)
        hi = round(lo + rng.uniform(20, 200), 1)
        users = rng.randrange(100, 1500)
        args = {
            "table": "events",
            "filter": f"value >= {lo} AND value <= {hi} AND user_id < {users}",
            "clause_col": "event_type",
            "url_col": None,
            "order_by": [["value", True], ["event_id", False]],
            "n_results": 30,
        }
        return args, f"value >= {lo} AND value <= {hi} AND user_id < {users}"
    lo = rng.randrange(1, 41)
    hi = lo + rng.randrange(3, 11)
    noun = rng.choice(NOUNS)
    args = {
        "table": "part",
        "filter": f'p_size >= {lo} AND p_size <= {hi} AND p_name CONTAINS "{noun}"',
        "clause_col": "p_type",
        "url_col": "p_brand",
        "order_by": [["p_retailprice", True], ["p_partkey", False]],
        "n_results": 30,
    }
    return args, f"p_size >= {lo} AND p_size <= {hi} AND contains(p_name, '{noun}')"


def _order_sql(spec: list[list]) -> str:
    return ", ".join(f"{c} {'DESC' if d else 'ASC'}" for c, d in spec)


def _mofdb(rng: random.Random, limit: Optional[int]) -> tuple[dict, str]:
    brand = f"Brand#{rng.randrange(1, 26)}"
    lo = rng.randrange(1, 41)
    hi = lo + rng.randrange(4, 11)
    plo = round(rng.uniform(900, 960), 1)
    args = {
        "brand": brand,
        "size_min": lo,
        "size_max": hi,
        "price_min": plo,
        "price_max": round(plo + 40, 1),
        "limit": limit,
    }
    sql = (
        f"SELECT * FROM part WHERE p_brand = '{brand}' AND p_size >= {lo} "
        f"AND p_size <= {hi} AND p_retailprice >= {plo} "
        f"AND p_retailprice <= {args['price_max']}"
    )
    if limit is not None:
        sql += f" ORDER BY p_partkey LIMIT {limit}"
    return args, sql


def _param(rng: random.Random, builder: str) -> tuple[dict, str]:
    if builder == "mofdb":
        return _mofdb(rng, limit=30)
    if builder == "openlam":
        etype = rng.choice(EVENT_TYPES)
        lo = round(rng.uniform(0, 100), 2)
        day = rng.randrange(1, 28)
        start = f"2024-01-{day:02d}T00:00:00Z"
        end = f"2024-01-{day + 2:02d}T12:00:00Z"
        args = {
            "event_type": etype,
            "value_min": lo,
            "value_max": round(lo + 80, 2),
            "submitted_after": start,
            "submitted_before": end,
            "limit": 30,
        }
        sql = (
            f"SELECT * FROM events WHERE event_type = '{etype}' "
            f"AND value >= {lo} AND value <= {args['value_max']} "
            f"AND ts >= TIMESTAMP '{start[:-1].replace('T', ' ')}' "
            f"AND ts <= TIMESTAMP '{end[:-1].replace('T', ' ')}' "
            "ORDER BY event_id LIMIT 30"
        )
        return args, sql
    exact = rng.random() < 0.5
    ptype = rng.choice(PART_TYPES)
    keyword = ptype if exact else ptype[1:4]
    lo = rng.randrange(1, 45)
    descending = rng.random() < 0.5
    page = rng.randrange(1, 4)
    args = {
        "keyword": keyword,
        "exact": exact,
        "size_range": [lo, None],
        "sort_field": "p_retailprice",
        "descending": descending,
        "page": page,
        "size": 10,
    }
    match = f"p_type = '{keyword}'" if exact else f"contains(p_type, '{keyword}')"
    sql = (
        f"SELECT * FROM part WHERE {match} AND p_size >= {lo} AND p_size <= 50 "
        f"ORDER BY p_retailprice {'DESC' if descending else 'ASC'}, p_partkey "
        f"LIMIT 10 OFFSET {(page - 1) * 10}"
    )
    return args, sql


def _reject(rng: random.Random, n: dict[str, int], template: str) -> tuple[str, dict]:
    if template == "bad_enum":
        return "mofdb_fetch", {"brand": f"Brand#{rng.randrange(26, 99)}", "limit": 30}
    sql = {
        "dml_delete": f"DELETE FROM lineitem WHERE l_orderkey = {rng.randrange(n['orders'])}",
        "stacked_drop": f"SELECT * FROM orders WHERE o_orderkey = {rng.randrange(n['orders'])}; DROP TABLE orders",
        "dml_insert": f"INSERT INTO region VALUES ({rng.randrange(5, 99)}, 'X')",
    }[template]
    return "fetch_sql", {"sql": sql, "n_results": 10}


# Templates of each kind, cycled in shuffled blocks like the kinds.
TEMPLATES = {
    "sql": ("point_limit", "scan_agg", "window_topk", "join_agg"),
    "filter_quota": ("events_by_type", "part_by_type_brand"),
    "param": ("mofdb", "openlam", "bohrium"),
    "save": ("mofdb_full",),
    "reject": ("dml_delete", "stacked_drop", "dml_insert", "bad_enum"),
}


def fetch_requests(seed: int, scale: float, count: int) -> list[Request]:
    """The first ``count`` requests of the stream for ``seed``."""
    rng = random.Random(seed)
    n = _sizes(scale)
    kinds = _blocks(rng, [k for k, w in MIX for _ in range(w)])
    templates = {k: _blocks(rng, list(t)) for k, t in TEMPLATES.items()}
    out: list[Request] = []
    for rid in range(count):
        kind = next(kinds)
        template = next(templates[kind])
        if kind == "sql":
            sql, limit = _sql(rng, n, template)
            req = Request(rid, kind, template, "fetch_sql",
                          {"sql": sql, "n_results": limit}, oracle=sql)
        elif kind == "filter_quota":
            args, where = _filter_quota(rng, template)
            req = Request(rid, kind, template, "fair_quota_topk", args, quota_where=where)
        elif kind == "param":
            args, sql = _param(rng, template)
            req = Request(rid, kind, template, f"{template}_fetch", args, oracle=sql)
        elif kind == "save":
            args, sql = _mofdb(rng, limit=None)
            req = Request(rid, kind, template, "mofdb_fetch", args, oracle=sql)
        else:
            call, args = _reject(rng, n, template)
            req = Request(rid, kind, template, call, args, expect_error=True)
        out.append(req)
    return out


# Untimed requests per template before the timed window. With one, the
# first few timed requests of each kind still ran up to 1.4x slower.
WARMUP_ROUNDS = 2


def warmup_requests(seed: int, scale: float) -> list[Request]:
    """``WARMUP_ROUNDS`` requests per template, drawn from a stream the
    timed run never sees."""
    seen: dict[str, int] = {}
    out: list[Request] = []
    for req in fetch_requests(seed + 1_000_003, scale, 400):
        if seen.get(req.template, 0) < WARMUP_ROUNDS:
            seen[req.template] = seen.get(req.template, 0) + 1
            out.append(req)
    return out


def quota_oracle(req: Request, plan: dict[str, dict[str, int]]) -> str:
    """DuckDB SQL for a fair-quota request, given the allocation ``plan``
    that ``checks.water_fill`` computed from DuckDB's own group counts."""
    a = req.args
    url = a["url_col"] or "'_'"
    cells = [(c, u, q) for c, urls in plan.items() for u, q in urls.items() if q > 0]
    if not cells:
        return f"SELECT * FROM {a['table']} WHERE FALSE"
    values = ", ".join(f"('{c}', '{u}', {q})" for c, u, q in cells)
    return (
        f"SELECT t.* EXCLUDE (__c, __u, __rn) FROM ("
        f"SELECT *, {a['clause_col']} AS __c, {url} AS __u, ROW_NUMBER() OVER ("
        f"PARTITION BY {a['clause_col']}, {url} ORDER BY {_order_sql(a['order_by'])}) AS __rn "
        f"FROM {a['table']} WHERE {req.quota_where}) t "
        f"JOIN (VALUES {values}) AS q(c, u, n) ON t.__c = q.c AND t.__u = q.u "
        "WHERE t.__rn <= q.n"
    )


def quota_counts_sql(req: Request) -> str:
    a = req.args
    url = a["url_col"] or "'_'"
    return (
        f"SELECT {a['clause_col']} AS c, {url} AS u, COUNT(*) AS n FROM {a['table']} "
        f"WHERE {req.quota_where} GROUP BY 1, 2"
    )


def pipeline_order(seed: int) -> list[str]:
    """The goldens of ``iterative_pipeline`` in the seed's order."""
    order = list(PIPELINE)
    random.Random(seed).shuffle(order)
    return order
