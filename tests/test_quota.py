"""Property tests for the fair-quota water-fill (SURVEY.md §5 implication d:
invariants from the reference's docstring, Optimade_Server/utils.py:253-262)
plus worked examples, and the distributed fair_quota_topk transform."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import run_counted
from mr_dice_spark.operators.quota import distribute_quota_fair, fair_quota_topk

stats_st = st.dictionaries(
    st.text(alphabet="abcdef", min_size=1, max_size=3),
    st.dictionaries(
        st.text(alphabet="uvwxyz", min_size=1, max_size=3),
        st.integers(min_value=0, max_value=40),
        min_size=1,
        max_size=5,
    ),
    min_size=1,
    max_size=6,
)


@given(stats=stats_st, n=st.integers(min_value=0, max_value=200))
@settings(max_examples=300, deadline=None)
def test_invariants(stats, n):
    plan = distribute_quota_fair(stats, n)
    if n <= 0:
        assert plan == {}
        return
    total_cap = sum(sum(u.values()) for u in stats.values())
    got = sum(sum(u.values()) for u in plan.values())
    # never exceeds capacity per cell
    for c, urls in plan.items():
        for u, q in urls.items():
            assert 0 <= q <= stats[c][u]
    # exact budget use
    assert got == min(n, total_cap)
    # fairness: clause totals differ by <=1 unless the smaller one is capacity-bound
    totals = {c: sum(u.values()) for c, u in plan.items()}
    caps = {c: sum(u.values()) for c, u in stats.items()}
    active = [c for c in stats if caps[c] > 0]
    for c1 in active:
        for c2 in active:
            if totals[c1] > totals[c2] + 1:
                assert totals[c2] == caps[c2], (
                    f"{c2} got {totals[c2]} while {c1} got {totals[c1]} "
                    f"but {c2} is not capacity-bound (cap {caps[c2]})"
                )


@given(stats=stats_st, n=st.integers(min_value=0, max_value=60))
@settings(max_examples=300, deadline=None)
def test_allocation_reads_counts_only_up_to_budget(stats, n):
    """fair_quota_topk allocates over each cell's top-n candidate count,
    min(count, n): the plan must equal the one over the full counts."""
    capped = {c: {u: min(k, n) for u, k in urls.items()} for c, urls in stats.items()}
    assert distribute_quota_fair(stats, n) == distribute_quota_fair(capped, n)


def test_equal_split_simple():
    plan = distribute_quota_fair({"a": {"u": 50}, "b": {"u": 50}}, 10)
    assert plan == {"a": {"u": 5}, "b": {"u": 5}}


def test_remainder_goes_to_first_clauses():
    plan = distribute_quota_fair({"a": {"u": 50}, "b": {"u": 50}, "c": {"u": 50}}, 10)
    assert plan == {"a": {"u": 4}, "b": {"u": 3}, "c": {"u": 3}}


def test_capacity_bound_overflow_waterfills():
    # clause a can only take 2; its unused share flows to b and c evenly
    plan = distribute_quota_fair({"a": {"u": 2}, "b": {"u": 50}, "c": {"u": 50}}, 12)
    assert plan["a"] == {"u": 2}
    assert sum(plan["b"].values()) == 5
    assert sum(plan["c"].values()) == 5


def test_intra_clause_url_split():
    plan = distribute_quota_fair({"a": {"u1": 10, "u2": 10, "u3": 1}}, 9)
    # equal split 3/3/3 capped at u3's 1, then water-fill the leftover 2 -> u1, u2
    assert plan == {"a": {"u1": 4, "u2": 4, "u3": 1}}


def test_zero_capacity_clause_excluded():
    plan = distribute_quota_fair({"a": {"u": 0}, "b": {"u": 7}}, 5)
    assert plan == {"a": {"u": 0}, "b": {"u": 5}}


def test_fair_quota_topk_distributed(spark, oracle_sf_dir):
    from mr_dice_spark.catalog import Catalog
    from pyspark.sql import functions as F

    ev = Catalog(spark, oracle_sf_dir).events
    out = fair_quota_topk(
        ev, "event_type", None, 40, order_by=[F.asc("ts"), F.asc("event_id")]
    )
    rows = out.collect()
    assert len(rows) == 40
    by_type = {}
    for r in rows:
        by_type[r.event_type] = by_type.get(r.event_type, 0) + 1
    # 5 event types, all with thousands of rows -> exact equal split
    assert by_type == {t: 8 for t in by_type}
    # per-group rows are the earliest by (ts, event_id)
    first = ev.orderBy("ts", "event_id").where(F.col("event_type") == rows[0].event_type)
    picked = sorted((r.ts, r.event_id) for r in rows if r.event_type == rows[0].event_type)
    expect = sorted((r.ts, r.event_id) for r in first.limit(8).collect())
    assert picked == expect


def test_fair_quota_topk_scans_once_and_wraps_without_a_job(spark, oracle_sf_dir):
    """One windowed pass reads the source: its shuffle and its Arrow
    collect are the only jobs, and the Arrow-backed result wraps
    without running one."""
    from mr_dice_spark.catalog import Catalog
    from mr_dice_spark.envelope import wrap
    from pyspark.sql import functions as F

    ev = Catalog(spark, oracle_sf_dir).events.where(F.col("value") >= 50)
    order = [F.desc("value"), F.asc("event_id")]
    out, jobs, scans = run_counted(
        spark, "quota-topk", lambda: fair_quota_topk(ev, "event_type", None, 30, order)
    )
    assert (jobs, scans) == (2, 1)
    r, wrap_jobs, _ = run_counted(spark, "quota-wrap", lambda: wrap(out))
    assert wrap_jobs == 0
    assert r.n_found == 30 and not r.truncated


def test_fair_quota_topk_zero_budget_runs_no_job(spark, oracle_sf_dir):
    from mr_dice_spark.catalog import Catalog
    from pyspark.sql import functions as F

    ev = Catalog(spark, oracle_sf_dir).events

    def run():
        out = fair_quota_topk(ev, "event_type", None, 0, [F.asc("event_id")])
        return out.schema, out.collect()

    (schema, rows), jobs, _ = run_counted(spark, "quota-zero", run)
    assert (schema, rows, jobs) == (ev.schema, [], 0)


def test_fair_quota_topk_empty_input_returns_empty(spark):
    from pyspark.sql import functions as F

    from mr_dice_spark.operators.quota import fair_quota_topk

    df = spark.createDataFrame([], "clause string, url string, v long")
    out = fair_quota_topk(df, "clause", "url", 10, [F.col("v")])
    assert out.count() == 0


def test_fair_quota_topk_rejects_null_keys(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mr_dice_spark.operators.quota import fair_quota_topk

    df = spark.createDataFrame(
        [("a", "u1", 1), (None, "u1", 2)], "clause string, url string, v long"
    )
    with _pytest.raises(ValueError, match="NULL"):
        fair_quota_topk(df, "clause", "url", 10, [F.col("v")])


def test_waterfill_bulk_path_matches_unit_semantics():
    # large budget funneled into one clause: the bulk fast path must give
    # exactly what unit-at-a-time round-robin would
    from mr_dice_spark.operators.quota import distribute_quota_fair

    stats = {"a": {"u1": 500_000, "u2": 300_000, "u3": 1}}
    plan = distribute_quota_fair(stats, 600_000)
    got = plan["a"]
    assert sum(got.values()) == 600_000
    assert got["u3"] == 1                      # exhausted early
    # remaining 599_999 round-robins between u1/u2 -> u1 gets the odd unit
    assert got["u1"] == 300_000 and got["u2"] == 299_999


def test_skyline_2d_matches_bruteforce(spark):
    """Randomized dominance check: the window construction must equal
    the O(n^2) definition exactly, including duplicate-point ties and
    NULL exclusion."""
    import random

    from mr_dice_spark.operators.topk import skyline_2d

    rng = random.Random(17)
    rows = [(i, rng.randint(0, 12), float(rng.randint(0, 12))) for i in range(300)]
    rows += [(1000, -1, -1.0), (1001, -1, -1.0)]      # exact duplicate pair
    rows += [(1002, None, 1.0), (1003, 1, None)]      # incomparable
    df = spark.createDataFrame(rows, "id long, a int, b double")
    got = sorted(r["id"] for r in skyline_2d(df, "a", "b").collect())
    pts = [(i, a, b) for i, a, b in rows if a is not None and b is not None]
    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in pts if q[0] != p[0]
        )
    exp = sorted(p[0] for p in pts if not dominated(p))
    assert got == exp
    assert 1000 in got and 1001 in got  # duplicate frontier points tie
    # the continuous-a path (distinct-a over broadcast_a_domain): the
    # distributed two-pass prefix-min must produce the identical
    # frontier (ADVICE r5 — no unpartitioned window, no frontier
    # broadcast hint)
    got_big = sorted(
        r["id"] for r in skyline_2d(df, "a", "b", broadcast_a_domain=0).collect()
    )
    assert got_big == exp


def test_skyline_2d_continuous_a_no_single_partition_window(spark):
    """With a corpus-sized a-domain the plan must not contain the
    single-task global window: force the distributed path and check the
    frontier on a continuous staircase where every point is on it, plus
    a brute-force random check."""
    import random

    from mr_dice_spark.operators.topk import skyline_2d
    from mr_dice_spark.plans.inspect import physical_plan

    rng = random.Random(41)
    rows = [(i, rng.uniform(0, 1), rng.uniform(0, 1)) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    out = skyline_2d(df, "a", "b", broadcast_a_domain=10)
    # The point of the distributed path: no single-task global window.
    # An unpartitioned Window forces Exchange SinglePartition; the
    # per-__pid window + broadcast offsets must not (ADVICE r6 — the
    # result check alone would pass if the global window came back).
    plan = physical_plan(out)
    assert "SinglePartition" not in plan, plan
    got = sorted(r["id"] for r in out.collect())
    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in rows if q[0] != p[0]
        )
    exp = sorted(p[0] for p in rows if not dominated(p))
    assert got == exp
