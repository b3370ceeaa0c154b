"""Fair-quota top-k across groups ("water-fill").

The reference's most distinctive operator (SURVEY.md §2.6 O5):
``distribute_quota_fair`` at optimade_database/Optimade_Server/utils.py:253-384
allocates a global result budget across (clause -> url) capacity groups:

1. equal split across active clauses (±1, insertion order gets the
   remainder), capped by clause capacity;
2. inside each clause, equal split across its urls (±1) plus an intra-clause
   round-robin water-fill over urls with headroom;
3. leftover budget water-fills across clauses — each pass gives one unit to
   every clause currently at the minimum total (insertion order), routed
   round-robin to that clause's residual urls — until the budget or all
   capacity is exhausted.

Invariants (property-tested in tests/test_quota.py):
* sum(plan) == min(n_results, total capacity)
* plan[c][u] <= stats[c][u] for every cell
* clause totals differ by <= 1 unless capacity-bound.

The allocation is a pure function of the per-group COUNTS, and it reads
each count only up to ``n_results``: no cell can be granted more than the
whole budget, so ``distribute_quota_fair(stats, n)`` equals the allocation
over ``min(count, n)`` (property-tested too). A per-group top-``n`` window
yields exactly that many rows per cell, so the distributed form is ONE
pass over the source: the per-group top-``n`` candidates (rank bounded by
a literal, which Spark prunes map-side as WindowGroupLimit) collected to
the driver, the allocation over their per-cell counts, and a filter of
the candidates by each cell's quota. The driver holds at most
groups x ``n`` rows, the reference's own per-provider top-n shape.
"""

from __future__ import annotations

from collections import Counter
from itertools import repeat

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mr_dice_spark.operators.local import local_frame

GroupStats = dict[str, dict[str, int]]


def _split_evenly(budget: int, keys: list[str], caps: dict[str, int]) -> dict[str, int]:
    """base + remainder split over ``keys`` in order, capped per key."""
    share, extra = divmod(budget, len(keys))
    return {
        k: min(caps[k], share + (1 if i < extra else 0)) for i, k in enumerate(keys)
    }


def _round_robin_fill(
    assigned: dict[str, int], caps: dict[str, int], keys: list[str], budget: int
) -> int:
    """Hand out ``budget`` one unit at a time, cycling ``keys`` in order and
    skipping keys without headroom. Returns the number of units placed."""
    placed = 0
    while placed < budget:
        progressed = False
        for k in keys:
            if placed >= budget:
                break
            if assigned[k] < caps[k]:
                assigned[k] += 1
                placed += 1
                progressed = True
        if not progressed:
            break
    return placed


def distribute_quota_fair(stats: GroupStats, n_results: int) -> GroupStats:
    """Pure water-fill allocation, semantics-parity with the reference."""
    if not stats or n_results <= 0:
        return {}

    plan: GroupStats = {c: {u: 0 for u in urls} for c, urls in stats.items()}
    clause_cap = {c: sum(urls.values()) for c, urls in stats.items()}
    active = [c for c in stats if clause_cap[c] > 0]
    if not active:
        return plan

    # step 1: per-clause targets — equal split over active clauses, capped
    targets = _split_evenly(n_results, active, clause_cap)

    # step 2: realize each clause's target over its urls (equal + water-fill)
    totals: dict[str, int] = {}
    for c in active:
        urls = list(stats[c].keys())
        caps = stats[c]
        got = _split_evenly(targets[c], urls, caps) if targets[c] > 0 else {u: 0 for u in urls}
        short = targets[c] - sum(got.values())
        if short > 0:
            _round_robin_fill(got, caps, urls, short)
        plan[c] = dict(got)
        totals[c] = sum(got.values())

    # step 3: clause-level water-fill of the leftover budget. Each pass
    # raises every clause sitting at the current minimum total by one unit
    # (insertion order), routing the unit round-robin within the clause.
    # Pointer state persists across passes; an exhausted url leaves the
    # rotation and the pointer stays on the element that slid into its slot
    # (exact parity with the reference's shrinking-residual-list behavior).
    remaining = n_results - sum(totals.values())
    headroom: dict[str, list[list]] = {}
    ptr: dict[str, int] = {}
    for c in active:
        open_urls = [[u, stats[c][u] - plan[c][u]] for u in stats[c] if stats[c][u] > plan[c][u]]
        if open_urls:
            headroom[c] = open_urls
            ptr[c] = 0

    def feed_clause(c: str) -> None:
        rotation = headroom[c]
        i = ptr[c] % len(rotation)
        url, slack = rotation[i]
        plan[c][url] += 1
        totals[c] += 1
        if slack == 1:
            rotation.pop(i)
            if rotation:
                ptr[c] = i % len(rotation)
            else:
                del headroom[c]
        else:
            rotation[i][1] = slack - 1
            ptr[c] = (i + 1) % len(rotation)

    while remaining > 0 and headroom:
        if len(headroom) == 1:
            # single clause left: cross-clause fairness is decided, so whole
            # round-robin rounds can be granted in bulk. `whole` <= min
            # slack - 1 keeps every url open, making the bulk grant
            # EXACTLY equal to whole*r unit feeds (no url exhausts
            # mid-round); the residue falls through to unit steps. Turns
            # the O(remaining) driver loop into O(#urls) for large budgets.
            (c,) = tuple(headroom)
            rotation = headroom[c]
            r = len(rotation)
            min_slack = min(s for _, s in rotation)
            whole = min(min_slack - 1, remaining // r)
            if whole > 0:
                for entry in rotation:
                    entry[1] -= whole
                    plan[c][entry[0]] += whole
                totals[c] += whole * r
                remaining -= whole * r
                continue
        floor = min(totals[c] for c in active if c in headroom)
        progressed = False
        for c in active:
            if remaining == 0:
                break
            if c in headroom and totals[c] == floor:
                feed_clause(c)
                remaining -= 1
                progressed = True
        if not progressed:
            break
    return plan


def _quota_candidates(
    df: DataFrame, keys: list[str], n_results: int, order_by: list
) -> DataFrame:
    """Each ``keys`` group's first ``n_results`` rows by ``order_by``,
    ranked 1.. in ``__rn``: the one pass of fair_quota_topk that reads the
    source. The LITERAL rank bound lets Spark prune every group map-side
    (WindowGroupLimit) instead of shuffling whole groups."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= F.lit(int(n_results))
    )


def fair_quota_topk(
    df: DataFrame,
    clause_col: str,
    url_col: str | None,
    n_results: int,
    order_by: list,
) -> DataFrame:
    """Distributed fair-quota top-k: the reference's count -> allocate ->
    materialize-under-quota pipeline (Optimade_Server/server.py:123-161)
    as one DataFrame transform. ``url_col=None`` gives every clause a
    single url.

    ``order_by`` defines the deterministic per-group priority (the reference
    relies on provider insertion order; a distributed engine must impose an
    explicit total order — SURVEY.md §7.3).

    Scale shape: one windowed pass over the source keeps each group's top
    ``n_results`` rows and is collected as Arrow, so the driver holds at
    most groups x ``n_results`` candidate rows (the reference's own
    per-provider top-n shape). Each group's candidate count is
    ``min(count, n_results)``, which is all the water-fill allocation reads;
    the candidates within each group's quota come back as an Arrow-backed
    LocalTableScan frame, which later actions read without a Spark job.
    ``n_results <= 0`` returns an empty frame without running one.
    """
    spark = df.sparkSession
    if n_results <= 0:
        return local_frame(spark, [], df.schema)
    keys = [clause_col] + ([url_col] if url_col else [])
    cand = _quota_candidates(df, keys, n_results, order_by).toArrow()
    # fail fast on NULL group keys: NULL names no provider, so a missing
    # filter or coalesce upstream surfaces here instead of as budget
    # handed to a NULL group
    if any(cand.column(k).null_count for k in keys):
        raise ValueError(
            f"fair_quota_topk: NULL in group keys "
            f"({', '.join(map(repr, keys))}); filter or coalesce them first"
        )
    cells = list(zip(
        cand.column(clause_col).to_pylist(),
        cand.column(url_col).to_pylist() if url_col else repeat("_"),
    ))
    counts = Counter(cells)
    stats: GroupStats = {}
    for c, u in sorted(counts, key=lambda cu: (str(cu[0]), str(cu[1]))):
        stats.setdefault(c, {})[u] = counts[c, u]
    plan = distribute_quota_fair(stats, n_results)
    rn = cand.column("__rn").to_pylist()
    keep = pa.array([r <= plan[c][u] for (c, u), r in zip(cells, rn)], pa.bool_())
    return spark.createDataFrame(cand.filter(keep).drop_columns(["__rn"]), df.schema)
