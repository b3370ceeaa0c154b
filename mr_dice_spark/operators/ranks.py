"""Tie-cell midranks: the one staging step the rank-test family shares.

Every cell-level rank test (the two-sample family in evaluation.py, the
blocked-design tests, Dunn's post-hoc) ranks VALUES, not rows: rows
collapse to one cell per ``(keys, value)`` holding its tie size ``t``,
and one key-partitioned window over the cells gives the strict running
count ``c_lt`` (rows strictly below the value). The midrank of every row
in the cell is then ``c_lt + (t + 1) / 2``, carried DOUBLED as

    __r2 = 2 * c_lt + t + 1

so it stays an exact long (ties share the average of their rank range;
no half-integers until the caller divides).

Exactness and headroom contract: ``__t``, ``__clt`` and ``__r2`` are
exact longs, so every rank sum a caller forms from them is
integer-exact and engine-invariant (no float summation order anywhere).
With N rows under one key, ``__r2 <= 2N``; a count times it
(``t * r2 <= 2N^2``) fits a long for any realistic N, a count times its
square (``t * r2^2 <= 4N^3``) only for N < ~1.3e6, so callers form
degree-4 moments as DECIMAL(19,0) products. ``__r2 / 2.0`` is an exact
half-integer double below 2^53, so code that wants the plain midrank
reads it bit-identically on every engine.

Scale shape: one hash aggregate to cells, one window partitioned by
``keys`` over cells (bounded by each key's DISTINCT value count, not its
row count). ``keys=[]`` ranks on a single-partition window — only for
frames already bounded by construction (one row per block, say).

:func:`two_sample_cells` adds the two-sample split on top: one class-A
flag, ``__ta`` per cell and the group totals ``__nn``/``__na``. It backs
the two-sample rank tests in evaluation.py (mann_whitney_u_by_group,
mood_scale_test, ansari_bradley, lepage_2s, brunner_munzel) and the
empirical-CDF drift family in timeseries.py (wasserstein_1,
cramer_von_mises_2s, energy_distance_2s, kuiper_2s,
anderson_darling_2s), which read their inclusive cumulative counts as
``strict prefix + own count`` off the same cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rank_cells(
    df: DataFrame,
    keys: list[str],
    value: str,
    t: Column | None = None,
    below: dict[str, str | Column] | None = None,
    **counts: Column,
) -> DataFrame:
    """One row per ``(keys, value)`` cell with its doubled midrank.

    Returns ``keys``, ``value``, ``__t`` (the cell size: ``t`` if given,
    else the row count), each ``counts`` aggregate under its keyword
    name, ``__clt`` (strict prefix sum of ``__t`` within ``keys``),
    ``__r2`` (``2 * __clt + __t + 1``) and, for each ``below`` entry, the
    strict prefix sum of that column on the SAME window — a
    within-subsample rank costs no extra Window node.
    """
    cells = df.groupBy(*keys, value).agg(
        (F.count(F.lit(1)) if t is None else t).alias("__t"),
        *[agg.alias(name) for name, agg in counts.items()],
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sums = {"__clt": "__t", **(below or {})}
    ranked = cells.select(
        "*",
        *[
            F.coalesce(F.sum(col).over(w), F.lit(0)).alias(name)
            for name, col in sums.items()
        ],
    )
    return ranked.withColumn("__r2", 2 * F.col("__clt") + F.col("__t") + 1)


def two_sample_cells(
    df: DataFrame,
    group_col: str,
    class_col: str,
    value_col: str,
    class_a,
    below: dict | None = None,
    **over: Column,
) -> DataFrame:
    """(group, value) tie cells of a two-sample test: NULL
    group/class/value rows excluded, then :func:`rank_cells` on ``__v``
    within ``__g`` with ``__ta`` (class-A members per cell), plus the
    group totals ``__nn``/``__na`` on one unordered group window.

    Each ``over`` column is added in the SAME select, ahead of the
    totals, so an extra window costs no extra plan node: one on ``__g``
    joins the totals' Window node, and one on ``__g`` ordered by ``__v``
    (a lead, say) collapses into the ranking window's. Spark stacks one
    Window node per spec in order of first appearance and merges a node
    only into an equal-spec node directly beneath it, so the ordered
    spec must come first."""
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(class_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        (F.col(class_col) == F.lit(class_a)).alias("__a"),
        F.col(value_col).cast("double").alias("__v"),
    )
    cells = rank_cells(
        base, ["__g"], "__v", below=below, __ta=F.count_if(F.col("__a"))
    )
    w_all = Window.partitionBy("__g")
    return cells.select(
        "*",
        *[col.alias(name) for name, col in over.items()],
        F.sum("__t").over(w_all).alias("__nn"),
        F.sum("__ta").over(w_all).alias("__na"),
    )
