"""Parallelism guard for compute-heavy narrow operators.

A small Parquet table (one file, a few MB) scans as ONE partition, but
operators like MinHash signatures or shingle explosion do orders of
magnitude more compute per row than the scan itself — on a single
partition all that CPU lands in one task and the other 31 cores idle.
``fan_out`` repartitions the (already column-pruned) input up to the
cluster's parallelism before the heavy expressions run.

At real scale (100 TB → tens of thousands of input splits) the input
partition count already exceeds the target and this is a no-op — the guard
costs nothing on big inputs and fixes the pathological small-input case
(which is exactly what a per-query driver, notebook, or test hits).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism iff
    the plan currently has fewer partitions. Call it on the narrowest
    projection (ids + the column the heavy expression consumes) so the
    shuffle moves minimal bytes."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # decide from scan metadata, never df.rdd: materializing the RDD under
    # AQE EXECUTES all upstream shuffle stages eagerly just to read a
    # partition count, and that work is re-done by the real action
    input_files = df.inputFiles()
    if not input_files:
        # derived (post-shuffle) lineage already carries
        # spark.sql.shuffle.partitions >= cores; nothing to widen
        return df
    # file COUNT alone both under-counts (few large splittable files scan as
    # many partitions) and over-counts (many small files coalesce under
    # maxPartitionBytes); estimate actual scan splits with Spark's own
    # packing rule (FilePartition.maxSplitBytes) when the files are
    # stat-able, falling back to the count
    est = len(input_files)
    try:
        max_bytes = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes", "4194304"))
        total = 0
        for f in input_files:
            local = f[len("file:"):] if f.startswith("file:") else f
            if not os.path.exists(local):
                raise OSError(f"non-local input {f}")
            total += os.path.getsize(local)
        padded = total + open_cost * len(input_files)
        bytes_per_core = padded / max(1, spark.sparkContext.defaultParallelism)
        max_split = min(max_bytes, max(open_cost, int(bytes_per_core)))
        est = max(1, -(-padded // max(1, max_split)))
    except (OSError, ValueError):
        pass  # remote filesystem: keep the file count as the estimate
    if est < target:
        return df.repartition(target)
    return df


def hot_keys(df: DataFrame, key_cols: list[str], min_share: float = 0.01, top: int = 20) -> DataFrame:
    """Heavy-hitter report: keys holding more than ``min_share`` of rows.

    One pass (count + total via a window-free two-step). Use it to decide
    between AQE skew-join (default, automatic) and explicit salting below.
    """
    from pyspark.sql import functions as F

    total = df.count()
    return (
        df.groupBy(*key_cols)
        .count()
        .where(F.col("count") >= max(1, int(total * min_share)))
        .withColumn("share", F.col("count") / F.lit(float(total)))
        .orderBy(F.desc("count"))
        .limit(top)
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot left key over ``n_salts``
    shuffle partitions; replicate the (small) right side once per salt.

    The left salt is a deterministic hash of the whole row (not rand() —
    retries/speculative tasks must re-derive the same salt). Prefer
    broadcast when the right side fits, and AQE's skew-join for sort-merge
    cases; explicit salting is for the residual case — a hot build key too
    big for one task where the right side is small enough to replicate
    n_salts times but too big to broadcast whole.

    Limitation: BIT-IDENTICAL duplicate rows of a hot key all hash to the
    same salt, so a hot key whose rows are exact duplicates stays
    concentrated. If that is your shape, add a distinct ordinal column
    upstream (an event id, a file offset) so rows differ — a
    nondeterministic ordinal here would break the retry-stability contract
    above.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    left_s = left.withColumn("__salt", salt)
    right_s = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = left_s.join(right_s, on + ["__salt"], how)
    return out.drop("__salt")


def prefix_sums(
    df: DataFrame,
    order_col: str,
    value_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global running sums of ``value_cols`` in ``order_col``
    order WITHOUT a single-partition window: range-partition on the
    order key, run the cumulative windows per partition, collect ONE row
    of totals per partition (driver state bounded by the partition
    count), and broadcast the per-partition base offsets back — the
    two-pass prefix-sum `packing.pack_sequences` pioneered, factored out
    for every operator that needs a corpus-ordered cumulative
    (vocabulary growth, token offsets, Lorenz curves over sorted keys).

    The partitioned frame is eagerly materialized first: the totals job
    and the final query are separately compiled plans, and the range
    partitioner re-samples boundaries per plan while
    spark_partition_id() is job-nondeterministic — without pinning, the
    collected offsets could describe a different partitioning than the
    one the final query executes (the pack_sequences lesson, stated
    there in full).

    Adds ``{col}_cum`` (inclusive running sum) per value column;
    ``order_col`` must be unique. NULL values sum as 0. Value columns may
    be any numeric type — the per-partition offset frame mirrors Spark's
    own SUM() result type (long for the int family, double, widened
    decimal), so integral and floating running sums both work.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = df
    parts = (
        base.repartitionByRange(num_partitions, order_col)
        if num_partitions
        else base.repartitionByRange(order_col)
    )
    parts = parts.withColumn("__pid", F.spark_partition_id())
    parts = parts.localCheckpoint(eager=True)
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.select(
        "*",
        *[
            F.sum(F.coalesce(F.col(c), F.lit(0))).over(w).alias(f"__lcum_{c}")
            for c in value_cols
        ],
    )
    totals = sorted(
        parts.groupBy("__pid")
        .agg(*[F.sum(F.coalesce(F.col(c), F.lit(0))).alias(c) for c in value_cols])
        .collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = [], {c: 0 for c in value_cols}
    for r in totals:
        offsets.append((r["__pid"], *[acc[c] for c in value_cols]))
        for c in value_cols:
            acc[c] += r[c] or 0
    # offset column types must match the running-sum columns: Spark types
    # SUM(int-family) as long but SUM(double) as double and SUM(decimal)
    # as a widened decimal — hardcoding long here made any non-integral
    # value column raise TypeError at createDataFrame (ADVICE r5)
    import decimal as _decimal

    sum_types = {c: local.schema[f"__lcum_{c}"].dataType for c in value_cols}

    def _as_py(c, v):
        t = sum_types[c].typeName()
        if t == "double" or t == "float":
            return float(v)
        if t == "decimal":
            return _decimal.Decimal(v)
        return int(v)

    offsets = [
        (pid, *[_as_py(c, v) for c, v in zip(value_cols, vals)])
        for pid, *vals in offsets
    ]
    schema = "__pid int, " + ", ".join(
        f"__off_{c} {sum_types[c].simpleString()}" for c in value_cols
    )
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            offsets or [tuple([0] + [_as_py(c, 0) for c in value_cols])], schema
        )
    )
    out = local.join(off_df, "__pid")
    for c in value_cols:
        out = out.withColumn(
            f"{c}_cum", F.col(f"__off_{c}") + F.col(f"__lcum_{c}")
        ).drop(f"__lcum_{c}", f"__off_{c}")
    return out.drop("__pid")
