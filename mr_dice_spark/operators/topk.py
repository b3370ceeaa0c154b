"""Per-group top-k / result-cap operators (SURVEY.md §2.6 O1-O4, O6).

The reference caps results per provider (``max_results_per_provider``,
Optimade_Server/server.py:114) and truncates final output to 30
(MAX_RETURNED_STRUCTS). Per-group limits have no single Spark builtin; the
canonical distributed form is a rank-filter window, which AQE executes as one
shuffle with partial top-k pushdown (WindowGroupLimit in Spark 3.5+ rewrites
rank<=k filters into per-partition limits before the shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def per_group_topk(
    df: DataFrame,
    group_cols: list[str],
    order_by: list,
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the top ``k`` rows of each group under a deterministic order.

    ``order_by`` should be a total order (include a unique tiebreaker) so
    results are reproducible across engines and runs.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    ranked = df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k)
    if rank_col:
        return ranked.withColumnRenamed("__rn", rank_col)
    return ranked.drop("__rn")


def skyline_2d(
    df: DataFrame,
    a_col: str,
    b_col: str,
    broadcast_a_domain: int = 100_000,
) -> DataFrame:
    """2-D skyline (Pareto frontier, both dimensions MINIMIZED): rows no
    other row strictly dominates — q dominates p iff q.a <= p.a and
    q.b <= p.b with at least one strict. The multi-criteria shortlist
    operator (cheapest-AND-smallest part, best quality per token cost)
    classic OLAP engines ship and Spark lacks.

    NOT the naive O(n^2) dominance anti-join (a non-equi NOT EXISTS
    plans as BNLJ): per-a minima first (one hash aggregate — survivors
    of same-a dominance are exactly the rows at their a-group's minimum
    b), then a running strict-predecessor minimum over the DISTINCT-a
    relation ordered by a (cross-a dominance: survive iff every
    strictly-smaller a has a strictly-larger min-b), joined back.
    Duplicate (a, b) points tie and BOTH survive (neither strictly
    dominates). NULL in either dimension excludes the row
    (incomparable).

    The distinct-a relation's size picks the plan (ADVICE r5 — a
    continuous a_col makes the a-domain corpus-sized, where an
    unpartitioned window and a frontier broadcast are the failure
    points before the documented global-sort surface):

    * ``|distinct a| <= broadcast_a_domain`` (the discrete-dimension
      case: brands, sizes, buckets): single-task window + broadcast
      join back — minimal overhead.
    * larger (continuous a): distributed two-pass prefix-min — range
      partition the distinct-a table on a, per-partition running min,
      collect ONE min per partition (driver state = partition count),
      broadcast the per-partition strict-predecessor offsets back, and
      join the frontier without a broadcast hint (AQE decides; an
      anti-correlated corpus can have a corpus-sized frontier). Same
      eager-materialization rule as ``scale.prefix_sums``:
      spark_partition_id is job-nondeterministic, so the partitioned
      frame is pinned before the offsets job and the final query.

    Returns the input rows (all columns) that form the frontier.
    """
    a, b = F.col(a_col), F.col(b_col)
    base = df.where(a.isNotNull() & b.isNotNull())
    mb = base.groupBy(a_col).agg(F.min(b).alias("__mb")).localCheckpoint(eager=True)
    if mb.count() <= broadcast_a_domain:
        w = (
            Window.orderBy(F.col(a_col).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        frontier_a = mb.withColumn("__m1", F.min("__mb").over(w)).where(
            F.col("__m1").isNull() | (F.col("__m1") > F.col("__mb"))
        )
        return (
            base.join(F.broadcast(frontier_a), a_col)
            .where(b == F.col("__mb"))
            .drop("__mb", "__m1")
        )
    parts = (
        mb.repartitionByRange(F.col(a_col).asc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = (
        Window.partitionBy("__pid")
        .orderBy(F.col(a_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pmins = sorted(
        parts.groupBy("__pid").agg(F.min("__mb").alias("__pm")).collect(),
        key=lambda r: r["__pid"],
    )
    run, offsets = None, []
    for r in pmins:
        offsets.append((r["__pid"], run))
        run = r["__pm"] if run is None else min(run, r["__pm"])
    b_type = mb.schema["__mb"].dataType.simpleString()
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets, f"__pid int, __off {b_type}")
    )
    frontier_a = (
        parts.join(off_df, "__pid")
        .withColumn("__m1", F.least(F.min("__mb").over(wloc), F.col("__off")))
        .where(F.col("__m1").isNull() | (F.col("__m1") > F.col("__mb")))
        .select(a_col, "__mb")
    )
    return (
        base.join(frontier_a, a_col)
        .where(b == F.col("__mb"))
        .drop("__mb")
    )
