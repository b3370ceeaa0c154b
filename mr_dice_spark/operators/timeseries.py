"""Time-series resampling (beyond-reference, north-star pipeline).

The reference's nearest analogue is the isotherm pressure->adsorption
curve (a nested time-series-like array, mofdb_database/mofdb_client/
mof.py:8-52 / temperature_point.py:6-27); analytics over the driver's
events table wants the standard warehouse reshape Spark lacks natively:
snap irregular observations to a regular grid and fill the gaps.

Plan shape: one aggregation to buckets, one per-key min/max to bound the
grid, a sequence() explode to generate it (bounded by span/step per key,
never a cross join against a calendar table), a left join back, and one
key-shuffle window for the forward fill. Every step is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mr_dice_spark.operators.ranks import two_sample_cells


def _bucket_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int,
    agg: str,
) -> DataFrame:
    """Shared bucketing stage: ``(__k, __h, __v)`` with ``__h`` the
    epoch-aligned bucket and ``__v`` the per-bucket aggregate. floor, not
    cast: cast("long") truncates toward zero, which misaligns pre-1970
    (negative-epoch) timestamps by one step vs SQL time_bucket."""
    if agg not in ("avg", "min", "max", "sum", "last"):
        raise ValueError(f"unsupported agg {agg!r}")
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_seconds).cast("long")
        * step_seconds
    )
    bv = F.col("__v")
    agg_fn = {
        "avg": F.avg(bv),
        "min": F.min(bv),
        "max": F.max(bv),
        "sum": F.sum(bv),
        "last": F.last(bv, ignorenulls=True),
    }[agg]
    return (
        df.select(
            F.col(key_col).alias("__k"), bucket.alias("__h"),
            F.col(value_col).alias("__v"),
        )
        .groupBy("__k", "__h")
        .agg(agg_fn.alias("__v"))
    )


def _grid_left_join(buckets: DataFrame, step_seconds: int) -> DataFrame:
    """Shared gap-grid stage: per-key bounded sequence() grid from first
    to last observed bucket, left-joined back so gap buckets carry NULL
    ``__v`` (span/step rows per key — never a calendar cross join)."""
    grid = (
        buckets.groupBy("__k")
        .agg(F.min("__h").alias("__lo"), F.max("__h").alias("__hi"))
        .select(
            "__k",
            F.explode(
                F.expr(f"sequence(__lo, __hi, interval {int(step_seconds)} seconds)")
            ).alias("__h"),
        )
    )
    return grid.join(buckets, ["__k", "__h"], "left")


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    agg: str = "avg",
) -> DataFrame:
    """Resample per-key observations onto a regular ``step_seconds`` grid
    with forward fill.

    Returns ``(key, bucket_ts, value, filled)``: one row per grid bucket
    from the key's first to last observation; ``value`` is the bucket
    aggregate (``agg``: avg/min/max/sum/last) forward-filled across empty
    buckets, ``filled`` marks rows that carry no observation of their own.
    Buckets are epoch-aligned (floor(epoch/step)*step), matching DuckDB's
    ``time_bucket`` for oracle parity.

    Scale: the grid explode emits span/step rows per key — bounded by the
    key's own time range, not the corpus; the forward-fill window shuffles
    once on the key. A key spanning years at 1-second steps is the
    caller's hazard to bucket coarser.
    """
    buckets = _bucket_agg(df, key_col, ts_col, value_col, step_seconds, agg)
    joined = _grid_left_join(buckets, step_seconds)
    w = Window.partitionBy("__k").orderBy("__h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        F.col("__k").alias(key_col),
        F.col("__h").alias("bucket_ts"),
        F.last("__v", ignorenulls=True).over(w).alias(value_col),
        F.col("__v").isNull().alias("filled"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    agg: str = "avg",
) -> DataFrame:
    """Resample per-key observations onto a regular grid with LINEAR
    interpolation across interior gaps (pandas ``interpolate("linear")``
    / Flink's gap-fill semantics, which Spark lacks natively).

    Returns ``(key, bucket_ts, value, filled)`` like :func:`resample_ffill`
    but a gap bucket takes ``prev + (next - prev) * (t - t_prev) /
    (t_next - t_prev)`` between its nearest observed neighbours instead of
    the last value. The grid spans each key's first to last OBSERVED
    bucket, so every gap is interior and both neighbours always exist —
    no edge-extrapolation convention to pick.

    Plan shape: identical to resample_ffill (bucket aggregate, bounded
    sequence() explode, left join back) plus one extra window pass — the
    prev/next scans share one partition+sort on the key, so the whole fill
    is a single key shuffle. All JVM-side; linear in grid rows at any
    scale.
    """
    buckets = _bucket_agg(df, key_col, ts_col, value_col, step_seconds, agg)
    joined = _grid_left_join(buckets, step_seconds)
    w_prev = Window.partitionBy("__k").orderBy("__h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_next = Window.partitionBy("__k").orderBy("__h").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_t = F.when(F.col("__v").isNotNull(), F.col("__h"))
    prev_v = F.last("__v", ignorenulls=True).over(w_prev)
    prev_t = F.last(obs_t, ignorenulls=True).over(w_prev)
    next_v = F.first("__v", ignorenulls=True).over(w_next)
    next_t = F.first(obs_t, ignorenulls=True).over(w_next)
    frac = (
        (F.unix_timestamp(F.col("__h")) - F.unix_timestamp(prev_t)).cast("double")
        / (F.unix_timestamp(next_t) - F.unix_timestamp(prev_t)).cast("double")
    )
    return joined.select(
        F.col("__k").alias(key_col),
        F.col("__h").alias("bucket_ts"),
        F.when(F.col("__v").isNotNull(), F.col("__v"))
        .otherwise(prev_v + (next_v - prev_v) * frac)
        .alias(value_col),
        F.col("__v").isNull().alias("filled"),
    )


def group_ols_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line via the closed-form
    sufficient statistics: ``(group..., n, slope, intercept, r2)`` from
    one aggregate of (n, Sx, Sy, Sxx, Syy, Sxy) — the moment-sketch
    shape, so a 100 TB fit is ONE group-keyed shuffle of six numbers
    per group with map-side combine (and the sums are mergeable, so the
    same stats roll up across partitions, days, or snapshots).

    Degenerate groups (all x equal, or fewer than 2 rows) return NULL
    slope/intercept/r2 instead of an ANSI divide error; a zero-variance
    y with nonzero x-variance fits slope 0 with r2 NULL (0/0). Callers
    feed a SMALL-magnitude x (day index, not epoch seconds) and a
    quantized y so the closed-form products stay well inside the 1e-6
    rounding grid's absorption band (see PERFORMANCE.md float-sum
    notes)."""
    n = F.count(F.lit(1)).cast("double")
    agg = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).groupBy(*group_cols).agg(
        n.alias("__n"),
        F.sum(F.col(x_col).cast("double")).alias("__sx"),
        F.sum(F.col(y_col).cast("double")).alias("__sy"),
        F.sum((F.col(x_col) * F.col(x_col)).cast("double")).alias("__sxx"),
        F.sum((F.col(y_col) * F.col(y_col)).cast("double")).alias("__syy"),
        F.sum((F.col(x_col) * F.col(y_col)).cast("double")).alias("__sxy"),
    )
    sxx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    syy = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    slope = F.when(sxx > 0, num / sxx)
    intercept = F.when(
        sxx > 0, (F.col("__sy") - (num / sxx) * F.col("__sx")) / F.col("__n")
    )
    r2 = F.when((sxx > 0) & (syy > 0), (num * num) / (sxx * syy))
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.round(slope + F.lit(1e-9), 6).alias("slope"),
        F.round(intercept + F.lit(1e-9), 6).alias("intercept"),
        F.round(r2 + F.lit(1e-9), 6).alias("r2"),
    )


def autocorrelation_by_lag(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    lags: list[int],
    step_seconds: int = 3600,
) -> DataFrame:
    """Seasonality scan: per-key Pearson autocorrelation of the bucketed
    series at each requested lag — 'does this metric repeat hourly /
    daily?' over the events stream, the screening pass before any
    heavier periodicity model.

    Buckets to a ``step_seconds`` grid (mean per bucket), then for each
    lag correlates the series with itself shifted by that many BUCKETS
    (lag rows over the bucket sequence; leading rows with no partner
    drop out of the correlation, the standard acf convention). Returns
    ``(key, lag, n, autocorr)``; NULL autocorr when fewer than two
    complete pairs or zero variance.

    Scale shape: one bucket aggregate + one window shuffle on the key
    (all lag columns share the single partition+sort), then one
    aggregate per key — lags add columns, not passes. The per-key series
    length is span/step, bounded by the key's own time range.
    """
    if not lags or any(l <= 0 for l in lags):
        raise ValueError(f"lags must be positive and non-empty: {lags}")
    # NULL values are excluded BEFORE bucketing: an all-NULL bucket would
    # otherwise produce a NULL series point whose lag partner enters
    # stddev_samp(lc) but not covar_samp — mismatched moment subsets are
    # not a Pearson coefficient (and diverge from SQL corr(), which drops
    # the pair from every moment)
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    )
    w = Window.partitionBy("__k").orderBy("__h")
    lag_cols = [F.lag("__v", l).over(w).alias(f"__l{l}") for l in lags]
    lagged = b.select("__k", "__v", *lag_cols)
    aggs = []
    for l in lags:
        lc = F.col(f"__l{l}")
        # Pearson r stated as covar/(sd*sd) over the PAIRED subset (rows
        # whose lag partner exists), with try_divide so a zero-variance
        # series yields NULL — Spark 4's ANSI-mode corr() raises
        # DIVIDE_BY_ZERO there instead
        pv = F.when(lc.isNotNull(), F.col("__v"))
        aggs.append(
            F.try_divide(
                F.covar_samp(pv, lc), F.stddev_samp(pv) * F.stddev_samp(lc)
            ).alias(f"__r{l}")
        )
        aggs.append(
            F.count(F.when(lc.isNotNull(), F.lit(1))).alias(f"__n{l}")
        )
    per_key = lagged.groupBy("__k").agg(*aggs)
    parts = [
        per_key.select(
            F.col("__k").alias(key_col),
            F.lit(l).alias("lag"),
            F.col(f"__n{l}").alias("n"),
            F.col(f"__r{l}").alias("autocorr"),
        )
        for l in lags
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    k_slack: float = 0.5,
    h_threshold: float = 5.0,
) -> DataFrame:
    """Per-key CUSUM level-shift detection over the bucketed series
    (Page 1954): standardize each bucket mean against the key's overall
    mean/sd, then track the one-sided cumulative sums
    ``S+_t = max(0, S+_{t-1} + z_t - k)`` and
    ``S-_t = max(0, S-_{t-1} - z_t - k)``; a bucket flags when either
    exceeds ``h_threshold``. The drift detector that catches SLOW mean
    creep long before a per-bucket z-score threshold fires.

    The recursive max has a closed prefix form (the reflection trick):
    ``S+_t = C_t - min_{u<=t} C_u`` where ``C_t = sum_{i<=t} (z_i - k)``
    — so each side is one running SUM plus one running MIN/MAX over the
    SAME (key, bucket-order) window: one exchange total, no recursion,
    no UDF. z is nudge-rounded to 6 dp BEFORE the sums so both engines
    accumulate the identical doubles in the identical (window) order —
    the cross-engine FP contract for chained float arithmetic.

    Keys with sd = 0 (constant series) yield NULL z and NULL cusums
    (no flags) via try_divide — the Spark-4-ANSI-safe form. Returns
    ``(key, bucket, value, z, cusum_pos, cusum_neg, is_shift)``.
    """
    b = _bucket_agg(df.where(F.col(value_col).isNotNull()),
                    key_col, ts_col, value_col, step_seconds, "avg")
    return cusum_from_buckets(b, key_col, k_slack, h_threshold)


def cusum_from_buckets(
    b: DataFrame,
    key_col: str,
    k_slack: float = 0.5,
    h_threshold: float = 5.0,
) -> DataFrame:
    """CUSUM finisher over a pre-bucketed ``(__k, __h, __v)`` frame —
    the shared tail of :func:`cusum_changepoints` and the streaming
    monitor (where the bucket means are aggregated ON the stream engine
    and this batch finisher runs on the materialized sink)."""
    stats = Window.partitionBy("__k")
    z = F.round(
        F.try_divide(
            F.col("__v") - F.avg("__v").over(stats),
            F.stddev_samp("__v").over(stats),
        )
        + F.lit(1e-9),
        6,
    )
    zb = b.select("__k", "__h", "__v", z.alias("__z"))
    run = (
        Window.partitionBy("__k")
        .orderBy("__h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_p = F.sum(F.col("__z") - F.lit(k_slack)).over(run)
    cum_n = F.sum(-F.col("__z") - F.lit(k_slack)).over(run)
    c = zb.select(
        "__k", "__h", "__v", "__z",
        cum_p.alias("__cp"), cum_n.alias("__cn"),
    )
    # S+ = C - min(prefix C), clamped at 0 by including the virtual
    # empty prefix (least(min, 0)); same for the negative side
    sp = F.col("__cp") - F.least(F.min("__cp").over(run), F.lit(0.0))
    sn = F.col("__cn") - F.least(F.min("__cn").over(run), F.lit(0.0))
    out = c.select(
        F.col("__k").alias(key_col),
        F.col("__h").alias("bucket"),
        F.col("__v").alias("value"),
        F.col("__z").alias("z"),
        sp.alias("cusum_pos"),
        sn.alias("cusum_neg"),
    )
    return out.withColumn(
        "is_shift",
        (F.col("cusum_pos") > h_threshold) | (F.col("cusum_neg") > h_threshold),
    )


def page_hinkley(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    delta: float = 0.01,
    lambda_threshold: float = 5.0,
) -> DataFrame:
    """Per-key Page-Hinkley drift detection over the bucketed series
    (Page 1954; the sequential mean-drift test stream-mining libraries
    ship as the default concept-drift monitor). Where CUSUM standardizes
    against the key's GLOBAL mean/sd (two-pass, needs the whole series),
    PH compares each bucket against the RUNNING mean — a genuinely
    sequential statistic an online monitor can maintain:
    ``m_t = sum_{i<=t} (x_i - xbar_i - delta)`` with ``xbar_i`` the mean
    of the first i buckets, alarming when ``m_t - min_{u<=t} m_u``
    exceeds ``lambda_threshold`` (mean drifted UP; the mirrored sum
    catches drift DOWN).

    Everything is windows over the bucket frame — running avg, running
    sum, running min — one key-partitioned exchange total, no recursion.
    Cross-engine FP contract (the cusum convention): bucket means and
    each per-bucket deviation term are nudge-rounded to 6 BEFORE the
    cumulative sums, so both engines accumulate identical doubles in
    identical window order. Returns ``(key, bucket, value, ph_inc,
    ph_dec, is_drift)``; gaps are clamped against the virtual empty
    prefix (m_0 = 0), matching the textbook initialization."""
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    )
    return ph_from_buckets(b, key_col, delta, lambda_threshold)


def ph_from_buckets(
    b: DataFrame,
    key_col: str,
    delta: float = 0.01,
    lambda_threshold: float = 5.0,
) -> DataFrame:
    """Page-Hinkley finisher over a pre-bucketed ``(__k, __h, __v)``
    frame — the shared tail of :func:`page_hinkley` and the streaming
    monitor (bucket means aggregated ON the stream engine, this batch
    finisher on the materialized sink; the cusum_from_buckets
    convention)."""
    ordered = (
        Window.partitionBy("__k")
        .orderBy("__h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.round(F.col("__v") + F.lit(1e-9), 6)
    withmean = b.select(
        "__k", "__h", v.alias("__v")
    ).select(
        "__k", "__h", "__v", F.avg("__v").over(ordered).alias("__rm")
    )
    terms = withmean.select(
        "__k", "__h", "__v",
        F.round(F.col("__v") - F.col("__rm") - F.lit(delta) + F.lit(1e-9), 6).alias(
            "__ti"
        ),
        F.round(F.col("__rm") - F.col("__v") - F.lit(delta) + F.lit(1e-9), 6).alias(
            "__td"
        ),
    )
    cum = terms.select(
        "__k", "__h", "__v",
        F.sum("__ti").over(ordered).alias("__mi"),
        F.sum("__td").over(ordered).alias("__md"),
    )
    gap_i = F.col("__mi") - F.least(F.min("__mi").over(ordered), F.lit(0.0))
    gap_d = F.col("__md") - F.least(F.min("__md").over(ordered), F.lit(0.0))
    out = cum.select(
        F.col("__k").alias(key_col),
        F.col("__h").alias("bucket"),
        F.col("__v").alias("value"),
        F.round(gap_i + F.lit(1e-9), 6).alias("ph_inc"),
        F.round(gap_d + F.lit(1e-9), 6).alias("ph_dec"),
    )
    return out.withColumn(
        "is_drift",
        (F.col("ph_inc") > lambda_threshold) | (F.col("ph_dec") > lambda_threshold),
    )


def mann_kendall_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Per-key Mann-Kendall trend test over the bucketed series: is
    there a MONOTONIC trend at all? The significance companion to
    :func:`theil_sen_trend`'s slope estimate (same bucket grid, same
    pair set): ``S = sum_{i<j} sign(v_j - v_i)`` with the tie-corrected
    ``Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18`` and the
    continuity-corrected ``z = (S -+ 1)/sqrt(Var)`` (Mann 1945; Kendall
    1975; the standard environmental/KPI trend screen).

    S and the tie terms are exact integers (bucket means are quantized
    before pairing, so sign() decisions are cross-engine identical);
    z is the only float. Returns ``(key, n_buckets, s, var_s, z)`` with
    NULL z when Var <= 0 (under 2 buckets, or all buckets tied).

    Scale shape: the theil_sen contract — pair work is O(B^2) per key
    over the BUCKET GRID (B fixed by retention, not row count), one
    bucket aggregate over the corpus. The bucket table is
    localCheckpoint-pinned (pair join, tie counts and bucket counts all
    derive from it)."""
    b = (
        _bucket_agg(
            df.where(F.col(value_col).isNotNull()),
            key_col, ts_col, value_col, step_seconds, "avg",
        )
        .select(
            "__k",
            (F.unix_timestamp("__h") / step_seconds).cast("long").alias("__x"),
            F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v"),
        )
        .localCheckpoint(eager=True)
    )
    a, c = b.alias("a"), b.alias("c")
    s = (
        a.join(
            c,
            (F.col("a.__k") == F.col("c.__k")) & (F.col("a.__x") < F.col("c.__x")),
        )
        .groupBy(F.col("a.__k").alias("__k"))
        .agg(
            F.sum(
                F.when(F.col("c.__v") > F.col("a.__v"), 1)
                .when(F.col("c.__v") < F.col("a.__v"), -1)
                .otherwise(0)
            ).alias("__s")
        )
    )
    ties = (
        b.groupBy("__k", "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy("__k")
        .agg(
            F.sum("__t").alias("__n"),
            F.sum(
                F.col("__t").cast("double")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).alias("__tt"),
        )
    )
    j = ties.join(s, "__k", "left")
    nd = F.col("__n").cast("double")
    var_s = (nd * (nd - 1) * (2 * nd + 5) - F.col("__tt")) / 18.0
    sd = F.col("__s").cast("double")
    z = F.when(
        var_s > 0,
        F.when(F.col("__s") > 0, (sd - 1.0) / F.sqrt(var_s))
        .when(F.col("__s") < 0, (sd + 1.0) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
    )
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n_buckets"),
        F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("s"),
        F.round(var_s + F.lit(1e-9), 4).alias("var_s"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    period: int = 24,
) -> DataFrame:
    """Classical additive seasonal decomposition per key (the
    moving-average method of Macaulay 1931 — what statsmodels
    ``seasonal_decompose`` implements): trend = centered moving average
    over one full period (the 2xM half-weighted form when ``period`` is
    even, so the window stays symmetric), seasonal index = mean
    detrended value per phase (bucket-index mod period) re-centered to
    sum to zero, plus the per-key seasonality STRENGTH
    ``F_s = max(0, 1 - var(remainder)/var(detrended))`` (Wang,
    Hyndman & Smith-Miles 2006) — the one-number 'is there a daily
    cycle worth modeling' readout.

    Gaps are made explicit first (the resample grid: span/step rows per
    key, never a calendar cross join); a trend value exists only where
    the FULL centered window is observed — gap windows yield NULL trend
    and drop out of the phase means, so sparse fixtures degrade to
    fewer observations rather than biased ones. Cross-engine FP
    contract: bucket means, the trend, detrended values, phase means
    and the final indices are each nudge-rounded to 6 before the next
    stage consumes them (the chained-float rule); variances run over
    identical 6-dec inputs and the strength is rounded at 4.

    Scale shape: one bucket aggregate, the bounded grid join, one
    key-partitioned window pass (lag/lead/sliding sum share the
    exchange), one (key, phase) hash aggregate, one 24-row-per-key
    normalization window, one broadcast join of the seasonal dim back
    onto the (localCheckpoint-pinned) detrended frame for the
    remainder variance. Returns ``(key, phase, n_obs, seasonal,
    seasonal_strength)`` — ``period`` rows per key."""
    if period < 2:
        raise ValueError(f"period must be >= 2: {period}")
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    ).select("__k", "__h", F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v"))
    g = _grid_left_join(b, step_seconds)
    half = period // 2
    ordered = Window.partitionBy("__k").orderBy("__h")
    if period % 2 == 0:
        mid = ordered.rowsBetween(-(half - 1), half - 1)
        full = ordered.rowsBetween(-half, half)
        present = F.count("__v").over(full) == (2 * half + 1)
        tr = (
            F.sum("__v").over(mid)
            + 0.5 * (F.lag("__v", half).over(ordered) + F.lead("__v", half).over(ordered))
        ) / float(period)
    else:
        full = ordered.rowsBetween(-half, half)
        present = F.count("__v").over(full) == (2 * half + 1)
        tr = F.avg("__v").over(full)
    trended = g.select(
        "__k", "__h", "__v",
        F.when(present, F.round(tr + F.lit(1e-9), 6)).alias("__tr"),
    )
    det = trended.select(
        "__k",
        (
            F.floor(F.unix_timestamp("__h") / step_seconds).cast("long")
            % period
        ).alias("__ph"),
        F.round(F.col("__v") - F.col("__tr") + F.lit(1e-9), 6).alias("__d"),
    ).localCheckpoint(eager=True)
    phase = det.groupBy("__k", "__ph").agg(
        F.count("__d").alias("n_obs"),
        F.round(F.avg("__d") + F.lit(1e-9), 6).alias("__sraw"),
    )
    norm = Window.partitionBy("__k")
    seas = phase.select(
        "__k", "__ph", "n_obs",
        F.round(
            F.col("__sraw") - F.avg("__sraw").over(norm) + F.lit(1e-9), 6
        ).alias("seasonal"),
    )
    rem = det.join(
        F.broadcast(seas.select("__k", "__ph", "seasonal")), ["__k", "__ph"]
    ).select(
        "__k",
        F.col("__d").alias("__d"),
        F.round(F.col("__d") - F.col("seasonal") + F.lit(1e-9), 6).alias("__r"),
    )
    strength = rem.groupBy("__k").agg(
        F.var_pop("__r").alias("__vr"), F.var_pop("__d").alias("__vd")
    ).select(
        "__k",
        F.when(
            F.col("__vd") > 0,
            F.round(
                F.greatest(F.lit(0.0), 1.0 - F.col("__vr") / F.col("__vd"))
                + F.lit(1e-9),
                4,
            ),
        ).alias("seasonal_strength"),
    )
    return seas.join(F.broadcast(strength), "__k").select(
        F.col("__k").alias(key_col),
        F.col("__ph").cast("long").alias("phase"),
        F.col("n_obs").cast("long").alias("n_obs"),
        "seasonal",
        "seasonal_strength",
    )


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Per-key Theil-Sen robust trend over the bucketed series: the
    MEDIAN of all pairwise slopes ``(v_j - v_i) / (x_j - x_i)`` with
    ``x`` the bucket index, plus the matching intercept
    ``median(v_i - slope * x_i)`` — the outlier-immune complement to
    :func:`ols_trend` (one corrupted bucket moves OLS, not the median
    of C(B,2) slopes; breakdown point 29%).

    Bucket means are nudge-rounded to 6 dp BEFORE pairing so both
    engines derive slopes from identical doubles (the chained-float
    contract); the medians are exact linear-interpolated percentiles
    (= DuckDB quantile_cont). Returns ``(key, n_buckets, n_pairs,
    slope, intercept)`` with NULL slope when a key has < 2 buckets.

    Scale shape: the pair join is per-key over the BUCKET GRID, not the
    corpus — B buckets cover the series' time span regardless of row
    count, so pair work is O(B^2) per key with B fixed by retention
    (e.g. 720 hourly buckets/month -> 259k pairs), and the exact
    median buffers only those slopes. Corpus-sized data touches one
    bucket aggregate."""
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    ).select(
        "__k",
        (F.unix_timestamp("__h") / step_seconds).cast("long").alias("__x"),
        F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v"),
    )
    a, c = b.alias("a"), b.alias("c")
    slopes = (
        a.join(
            c,
            (F.col("a.__k") == F.col("c.__k")) & (F.col("a.__x") < F.col("c.__x")),
        )
        .select(
            F.col("a.__k").alias("__k"),
            (
                (F.col("c.__v") - F.col("a.__v"))
                / (F.col("c.__x") - F.col("a.__x")).cast("double")
            ).alias("__s"),
        )
    )
    sl = slopes.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile("__s", 0.5).alias("slope"),
    )
    resid = (
        b.join(F.broadcast(sl), "__k")
        .groupBy("__k")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.percentile(
                F.col("__v") - F.col("slope") * F.col("__x").cast("double"), 0.5
            ).alias("intercept"),
        )
    )
    counts = b.groupBy("__k").agg(F.count(F.lit(1)).alias("n_buckets"))
    out = (
        counts.join(sl, "__k", "left")
        .join(resid.select("__k", "intercept"), "__k", "left")
        .select(
            F.col("__k").alias(key_col),
            "n_buckets",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            "slope",
            "intercept",
        )
    )
    return out



def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key TIME-weighted average of a sampled state series: each
    observation's value holds until the next observation (step/LOCF
    semantics), so its weight is that holding duration — the mean a
    plain AVG gets wrong whenever sampling is irregular (a sensor that
    reports hourly when stable and every second during an incident
    would drag AVG toward incident values). The last observation has no
    successor and carries zero duration (the series\' value AT the end
    is known, its future weight is not) — callers wanting a horizon
    extend the frame with a sentinel row.

    Durations are MICROSECOND-exact (unix_micros = DuckDB epoch_us —
    second-truncated arithmetic would zero out sub-second gaps), and
    the successor order is (ts, id): tied timestamps would otherwise
    assign their durations engine-dependently. ``twap =
    sum(v_i * dur_i) / sum(dur_i)``; NULL when a key has < 2
    observations. Returns ``(key, n_obs, span_us, avg_plain,
    avg_time_weighted)``. One (key, time) exchange: the lead window and
    the aggregate share it.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__t"),
        F.col(id_col).alias("__i"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    w = Window.partitionBy("__k").orderBy(F.col("__t").asc(), F.col("__i").asc())
    nxt = F.lead(F.unix_micros("__t")).over(w)
    dur = (nxt - F.unix_micros("__t")).cast("double")
    withd = base.select("__k", "__v", F.coalesce(dur, F.lit(0.0)).alias("__d"))
    agg = withd.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("__d").alias("__span"),
        F.avg("__v").alias("avg_plain"),
        F.sum(F.col("__v") * F.col("__d")).alias("__wv"),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        "n_obs",
        F.col("__span").cast("long").alias("span_us"),
        "avg_plain",
        F.try_divide(F.col("__wv"), F.col("__span")).alias("avg_time_weighted"),
    )


def rolling_median(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    half_window: int = 3,
) -> DataFrame:
    """Centered rolling-median smoother over the bucketed series: each
    bucket takes the exact interpolated median of the ``2*half_window +
    1`` buckets around it — the robust denoiser (one spiked bucket
    cannot move a median, unlike the rolling mean) run before trend or
    anomaly passes. Edge buckets use the available partial window
    (pandas ``rolling(center=True, min_periods=1)`` semantics).

    Bucket means quantize to 6 dp before the window (chained-float
    contract); the windowed percentile() is exact linear interpolation
    (= DuckDB quantile_cont OVER). One (key, time) exchange; per-row
    work is O(window), corpus-independent. Returns ``(key, bucket,
    value, smoothed)``.
    """
    if half_window < 1:
        raise ValueError(f"half_window must be >= 1: {half_window}")
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    ).select("__k", "__h", F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v"))
    w = (
        Window.partitionBy("__k")
        .orderBy("__h")
        .rowsBetween(-half_window, half_window)
    )
    return b.select(
        F.col("__k").alias(key_col),
        F.col("__h").alias("bucket"),
        F.col("__v").alias("value"),
        F.percentile("__v", 0.5).over(w).alias("smoothed"),
    )


def trailing_distinct_count(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    entity_col: str,
    step_seconds: int = 3600,
    trailing_buckets: int = 24,
) -> DataFrame:
    """Exact trailing-window distinct-entity count per (key, bucket):
    'distinct active users in the trailing 24 h, hourly' — the rolling
    cardinality Spark windows cannot state (count_distinct is not
    frame-able) and HLL frames would only approximate. For each
    observed bucket ``h``, counts entities seen in buckets
    ``(h - trailing_buckets, h]`` for that key.

    Shape: reduce to DISTINCT (key, bucket, entity) rows first (the
    only corpus-sized pass), then fan each row out to the
    ``trailing_buckets`` target buckets it is visible in (a bounded
    explode — shuffle volume is ``trailing_buckets x`` the distinct
    triple count, independent of raw event volume) and count distinct
    entities per target. Only buckets with at least one event of their
    own are reported (grid completion composes with resample_ffill).
    Returns ``(key, bucket, n_events_bucket, n_distinct_trailing)``.
    """
    if trailing_buckets < 1:
        raise ValueError(f"trailing_buckets must be >= 1: {trailing_buckets}")
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_seconds).cast("long")
    )
    base = df.select(
        F.col(key_col).alias("__k"),
        bucket.alias("__h"),
        F.col(entity_col).alias("__e"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(entity_col).isNotNull()
    )
    per_bucket = base.groupBy("__k", "__h").agg(
        F.count(F.lit(1)).alias("n_events_bucket")
    )
    triples = base.distinct()
    fanned = triples.select(
        "__k",
        "__e",
        F.explode(
            F.sequence(F.col("__h"), F.col("__h") + (trailing_buckets - 1))
        ).alias("__t"),
    )
    trailing = fanned.groupBy("__k", "__t").agg(
        F.count_distinct("__e").alias("n_distinct_trailing")
    )
    return (
        per_bucket.join(
            trailing,
            (per_bucket["__k"] == trailing["__k"])
            & (per_bucket["__h"] == trailing["__t"]),
        )
        .select(
            per_bucket["__k"].alias(key_col),
            F.timestamp_seconds(per_bucket["__h"] * step_seconds).alias("bucket"),
            "n_events_bucket",
            "n_distinct_trailing",
        )
    )


def holt_linear_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.2,
    max_points_per_key: int | None = 10_000_000,
) -> DataFrame:
    """Holt's linear (double exponential) smoothing per key — the
    level+trend forecasting state a monitoring pipeline keeps per
    series: ``l_1 = y_1, b_1 = 0`` then for t >= 2

        l_t = alpha*y_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    returning ``(key, n_points, level, trend, forecast_1)`` with
    ``forecast_1 = level + trend`` (the one-step-ahead forecast).
    NULL keys/values are excluded; a single-point series has
    ``trend = 0`` (the zero-trend warm start, chosen over the
    ``y_2 - y_1`` init so n=1 needs no special case and the recurrence
    is restatable from the first step).

    Tie contract: rows are ordered by ``(ts, value)`` with a STABLE
    merge sort, so duplicate ``(key, ts)`` rows get a deterministic
    order (ties broken by value; equal-value ties are interchangeable
    in the recurrence), not pandas' run-dependent quicksort order.

    Memory bound: each key's FULL series is materialized as one Arrow
    batch on a single task (the same bound as any per-key
    ``applyInPandas`` recurrence). Intended inputs are per-series
    monitoring rollups — thousands to low millions of points per key
    (~16 B/point => 10^6 points ≈ 16 MB). Do NOT feed raw event
    streams with a 10^8-point hot key; pre-aggregate to fixed buckets
    first (``resample_ffill_hourly`` / the streaming EMA), or raise
    ``max_points_per_key`` explicitly after sizing executor memory.
    The default cap fails fast instead of letting one hot key OOM a
    task at scale.

    Like the streaming EMA (``streaming/stateful.py``), the recurrence
    is order-SENSITIVE with a 2-vector state — no window/watermark
    rewrite exists (a single EMA has a product closed form; the Holt
    update is a 2x2 matrix product, which SQL window frames cannot
    express) — so this is the legitimate ``applyInPandas`` case: one
    Arrow-batched call per key, state O(1), shuffle = one key exchange.
    The Python loop multiplies by ``1.0 - alpha`` / ``1.0 - beta``
    EXPLICITLY so a SQL restatement writing the same subtraction is
    bit-identical before presentation rounding (the EMA oracle's rule).
    """
    import pandas as pd

    if not 0.0 < alpha <= 1.0 or not 0.0 <= beta <= 1.0:
        raise ValueError(f"alpha in (0,1], beta in [0,1]: {alpha}, {beta}")
    oma, omb = 1.0 - alpha, 1.0 - beta

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_points_per_key is not None and len(pdf) > max_points_per_key:
            raise ValueError(
                f"holt_linear_smooth: key {pdf['__k'].iloc[0]!r} has "
                f"{len(pdf)} points > max_points_per_key="
                f"{max_points_per_key}; pre-aggregate the series or "
                "raise the cap after sizing executor memory"
            )
        pdf = pdf.sort_values(["__ts", "__v"], kind="mergesort")
        vals = pdf["__v"].tolist()
        l, b = vals[0], 0.0
        for v in vals[1:]:
            nl = alpha * v + oma * (l + b)
            b = beta * (nl - l) + omb * b
            l = nl
        return pd.DataFrame(
            {
                "__k": [pdf["__k"].iloc[0]],
                "n_points": [len(vals)],
                "level": [l],
                "trend": [b],
                "forecast_1": [l + b],
            }
        )

    base = df.where(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__v"),
    )
    ktype = base.schema["__k"].dataType.simpleString()
    out = base.groupBy("__k").applyInPandas(
        fit,
        schema=(
            f"__k {ktype}, n_points long, level double, "
            "trend double, forecast_1 double"
        ),
    )
    return out.withColumnRenamed("__k", key_col)


def seasonal_naive_backtest(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    season: int = 24,
    step_seconds: int = 3600,
) -> DataFrame:
    """Backtest of the SEASONAL-NAIVE forecast per series — the
    forecast-accuracy floor every monitoring/capacity pipeline needs
    before trusting a fancier model (Hyndman & Koehler 2006: a model
    that can't beat "same hour yesterday" isn't a model): values
    aggregate to fixed ``step_seconds`` buckets (mean), the forecast
    for bucket t is the value ``season`` BUCKET POSITIONS earlier
    (positional lag over the existing buckets — gaps make the lag skip
    to the next present bucket, the documented contract; densify with
    resample_ffill first if calendar-exact lags matter), and errors
    report as

    * ``mae``   — mean |y - f| over scored buckets,
    * ``smape`` — mean 2|y - f| / (|y| + |f|) (0 when both are 0),
    * ``mase``  — mae / (mean |y_t - y_{t-1}| over naive-1-scored
      buckets): < 1 means the seasonal forecast beats the in-sample
      one-step naive walk.

    Bucket means are nudge-rounded at 6 BEFORE the lags (cross-engine
    double-sum order), so every error term is bit-identical; only the
    final three stats carry their own round. Series with no scored
    bucket (fewer than season+1 buckets) return NULL stats rather than
    vanishing — an un-backtestable series is a finding.

    Scale shape: one (key, bucket) hash aggregate, then two positional
    lags sharing one key-partitioned window sort, then a per-key
    aggregate — a single key exchange end-to-end, state O(1) per row.
    """
    if season < 1:
        raise ValueError(f"season must be >= 1: {season}")
    from pyspark.sql import Window

    base = df.where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.floor(F.unix_timestamp(ts_col) / step_seconds).cast("long").alias("__h"),
        F.col(value_col).cast("double").alias("__v"),
    )
    buckets = base.groupBy("__k", "__h").agg(
        F.round(F.avg("__v") + F.lit(1e-9), 6).alias("__y")
    )
    w = Window.partitionBy("__k").orderBy("__h")
    lagged = buckets.select(
        "__k",
        "__y",
        F.lag("__y", season).over(w).alias("__f"),
        F.lag("__y", 1).over(w).alias("__p"),
    )
    err = F.abs(F.col("__y") - F.col("__f"))
    smape_term = F.when(
        (F.abs(F.col("__y")) + F.abs(F.col("__f"))) == 0.0, F.lit(0.0)
    ).otherwise(2.0 * err / (F.abs(F.col("__y")) + F.abs(F.col("__f"))))
    agg = lagged.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count("__f").alias("n_scored"),
        F.avg(F.when(F.col("__f").isNotNull(), err)).alias("__mae"),
        F.avg(F.when(F.col("__f").isNotNull(), smape_term)).alias("__smape"),
        F.avg(
            F.when(
                F.col("__p").isNotNull(), F.abs(F.col("__y") - F.col("__p"))
            )
        ).alias("__d1"),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_scored").cast("long").alias("n_scored"),
        F.round(F.col("__mae") + F.lit(1e-9), 6).alias("mae"),
        F.round(F.col("__smape") + F.lit(1e-9), 6).alias("smape"),
        F.round(
            F.try_divide(F.col("__mae"), F.col("__d1")) + F.lit(1e-9), 6
        ).alias("mase"),
    )


def cross_correlation_by_lag(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    series_col: str,
    series_a,
    series_b,
    lags: list[int],
    step_seconds: int = 3600,
) -> DataFrame:
    """Lead-lag cross-correlation between two named series sharing one
    table — the monitoring question autocorrelation can't answer (does
    purchase value FOLLOW view value by k hours?): both series bucket
    to the ``step_seconds`` grid (mean, nudge-rounded at 6 — the
    autocorr/backtest pinning), and for each lag k, series A at bucket
    h pairs with series B at bucket h - k (CALENDAR lag via bucket-index
    arithmetic, so gaps pair nothing rather than sliding positions).
    Per lag: ``(lag, n_pairs, xcorr)`` with the Pearson correlation of
    the paired buckets; degenerate variance returns NULL.

    Scale shape: one (series, bucket) hash aggregate; each lag is an
    equi-join of the two tiny bucket frames on the shifted index (the
    lag spine is a literal array explode, never a range join); one
    moment aggregate per lag. Bucket frames are span/step-sized, so at
    100 TB the heavy work is the first aggregate — everything after is
    dashboard-sized.
    """
    if not lags or any(int(l) != l for l in lags):
        raise ValueError(f"lags must be a non-empty list of ints: {lags}")
    sv = F.col(series_col)
    base = df.where(
        sv.isin([series_a, series_b])
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        (sv == F.lit(series_a)).alias("__isa"),
        F.floor(F.unix_timestamp(ts_col) / step_seconds).cast("long").alias("__h"),
        F.col(value_col).cast("double").alias("__v"),
    )
    buckets = base.groupBy("__isa", "__h").agg(
        F.round(F.avg("__v") + F.lit(1e-9), 6).alias("__y")
    )
    a = buckets.where(F.col("__isa")).select("__h", F.col("__y").alias("__ya"))
    b = buckets.where(~F.col("__isa")).select(
        F.col("__h").alias("__hb"), F.col("__y").alias("__yb")
    )
    spine = a.sparkSession.createDataFrame(
        [(int(l),) for l in lags], "lag int"
    )
    shifted = b.crossJoin(F.broadcast(spine)).select(
        "lag", (F.col("__hb") + F.col("lag")).alias("__h"), "__yb"
    )
    paired = a.join(shifted, "__h")
    corr = F.try_divide(
        F.covar_pop("__ya", "__yb"),
        F.sqrt(F.var_pop("__ya") * F.var_pop("__yb")),
    )
    return (
        paired.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(corr + F.lit(1e-9), 6).alias("xcorr"),
        )
        .select("lag", F.col("n_pairs").cast("long").alias("n_pairs"), "xcorr")
    )


def pinball_forecast_loss(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    quantiles: list[float],
    season: int = 24,
    step_seconds: int = 3600,
) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecast per series
    and quantile — the proper scoring rule for quantile forecasts
    (Koenker & Bassett; what capacity planning optimizes when it wants
    P90 headroom, not the mean):

        pinball(y, f, q) = max(q * (y - f), (q - 1) * (y - f))

    reported as the mean over scored buckets, one row per
    ``(key, quantile)``. Shares seasonal_naive_backtest's contract:
    mean-per-bucket values nudge-rounded at 6 BEFORE the positional lag
    (gaps skip, densify first for calendar-exact lags), series with no
    scored bucket surface with NULL loss. The quantile spine is a
    broadcast literal array — one (key, bucket) aggregate, one key
    window, one small fan-out aggregate; no extra exchange per
    quantile.
    """
    if not quantiles or any(not 0.0 < q < 1.0 for q in quantiles):
        raise ValueError(f"quantiles must be in (0,1): {quantiles}")
    if season < 1:
        raise ValueError(f"season must be >= 1: {season}")
    from pyspark.sql import Window

    base = df.where(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.floor(F.unix_timestamp(ts_col) / step_seconds).cast("long").alias("__h"),
        F.col(value_col).cast("double").alias("__v"),
    )
    buckets = base.groupBy("__k", "__h").agg(
        F.round(F.avg("__v") + F.lit(1e-9), 6).alias("__y")
    )
    w = Window.partitionBy("__k").orderBy("__h")
    lagged = buckets.select(
        "__k", "__y", F.lag("__y", season).over(w).alias("__f")
    )
    spine = F.broadcast(
        df.sparkSession.createDataFrame(
            [(float(q),) for q in quantiles], "quantile double"
        )
    )
    fanned = lagged.crossJoin(spine)
    err = F.col("__y") - F.col("__f")
    loss = F.greatest(
        F.col("quantile") * err, (F.col("quantile") - 1.0) * err
    )
    return (
        fanned.groupBy("__k", "quantile")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.count("__f").alias("n_scored"),
            F.round(
                F.avg(F.when(F.col("__f").isNotNull(), loss)) + F.lit(1e-9), 6
            ).alias("pinball"),
        )
        .select(
            F.col("__k").alias(key_col),
            "quantile",
            F.col("n_buckets").cast("long").alias("n_buckets"),
            F.col("n_scored").cast("long").alias("n_scored"),
            "pinball",
        )
    )


def best_changepoint(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Offline single-changepoint detection per key: the split position
    that maximizes the between-segment sum of squares — equivalently,
    the first step of binary segmentation with the standard L2 cost
    (Scott & Knott; the retrospective "WHERE did the level shift" to
    :func:`cusum_from_buckets`' sequential "a shift is happening" and
    :func:`ph_from_buckets`' running-mean drift alarm).

    For a key's series x_1..x_n in ``order_col`` order, splitting after
    position k (1 <= k < n) gains

        gain(k) = (cs_k^2/k + (cs_n - cs_k)^2/(n-k)) - cs_n^2/n

    (total SSE minus the two segment SSEs; the x^2 terms cancel). The
    reported split is the argmax, ties broken on the SMALLEST k.

    Cross-engine determinism: feed QUANTIZED bucket values (the golden
    quantizes daily means at 6dp) — the running sums are then exact
    doubles, each gain is a fixed chain of correctly-rounded IEEE ops
    on identical operands, and gains are additionally nudge-rounded at
    9dp BEFORE the argmax so a last-ulp difference can never flip the
    winning split between engines. The SQL restatement must use the
    same association (left term + right term) - total term.

    Per-key series contract (the holt_linear_smooth convention): the
    cumulative window is partitioned by key, so one key's series must
    fit a task — feed BUCKETED series (daily/hourly aggregates), never
    raw events. ``order_col`` must be unique per key. NULL
    key/order/value rows are excluded; keys with n < 2 report NULL
    split (no interior split exists).

    Scale shape: one key-partitioned cumulative window (count + running
    sum in one pass), one key-partitioned argmax window over the same
    rows, one final filter — two windows sharing one exchange, no
    collect. Returns ``(key, n, split_pos, split_order, gain,
    mean_left, mean_right)``; split/gain/means NULL when n < 2.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(order_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    run = (
        Window.partitionBy("__k")
        .orderBy("__o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy("__k")
    cum = base.select(
        "__k",
        "__o",
        F.row_number().over(
            Window.partitionBy("__k").orderBy("__o")
        ).alias("__i"),
        F.sum("__v").over(run).alias("__cs"),
        F.count(F.lit(1)).over(whole).alias("__n"),
        F.sum("__v").over(whole).alias("__tot"),
    )
    k = F.col("__i").cast("double")
    n = F.col("__n").cast("double")
    cs, tot = F.col("__cs"), F.col("__tot")
    gain = F.round(
        (cs * cs / k + (tot - cs) * (tot - cs) / (n - k))
        - tot * tot / n
        + F.lit(1e-9),
        9,
    )
    splits = cum.where(F.col("__i") < F.col("__n")).select(
        "__k",
        "__o",
        "__i",
        "__n",
        "__cs",
        "__tot",
        gain.alias("__gain"),
    )
    pick = Window.partitionBy("__k").orderBy(
        F.col("__gain").desc(), F.col("__i").asc()
    )
    best = splits.withColumn("__rn", F.row_number().over(pick)).where(
        F.col("__rn") == 1
    )
    singles = (
        cum.where(F.col("__n") == 1)
        .select("__k", "__n")
        .distinct()
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").cast("long").alias("n"),
            F.lit(None).cast("long").alias("split_pos"),
            F.lit(None).cast(base.schema["__o"].dataType).alias("split_order"),
            F.lit(None).cast("double").alias("gain"),
            F.lit(None).cast("double").alias("mean_left"),
            F.lit(None).cast("double").alias("mean_right"),
        )
    )
    out = best.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        F.col("__i").cast("long").alias("split_pos"),
        F.col("__o").alias("split_order"),
        F.col("__gain").alias("gain"),
        F.round(F.col("__cs") / F.col("__i") + F.lit(1e-9), 6).alias("mean_left"),
        F.round(
            (F.col("__tot") - F.col("__cs"))
            / (F.col("__n") - F.col("__i")).cast("double")
            + F.lit(1e-9),
            6,
        ).alias("mean_right"),
    )
    return out.unionByName(singles)


def chow_test(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    breakpoint: float,
) -> DataFrame:
    """Chow test for a structural break at a KNOWN point per key: did
    the linear relationship y ~ a + b*x change after ``breakpoint``
    (a launch date, a policy change)? The confirmatory companion to
    :func:`best_changepoint` (which SEARCHES for the break): with
    segment 1 the rows where ``x <= breakpoint`` and segment 2 the
    rest,

        F = ((SSE_pooled - SSE_1 - SSE_2) / 2)
            / ((SSE_1 + SSE_2) / (n - 4))

    where each SSE is the OLS residual sum of squares from the power
    sums, ``SSE = Syy - Sxy^2/Sxx`` with centered moments
    ``Sxx = sum(x^2) - (sum x)^2/n`` etc; F ~ F(2, n-4) under "one
    line fits all".

    Cross-engine determinism (the anova-from-power-sums contract):
    per-segment power sums are exact decimals and every centered
    moment's cancelling numerator (``n*sxx - sx^2`` etc.) is formed in
    exact decimal before the single cast to double (the durbin_watson
    cancellation convention); each SSE is then a fixed chain of IEEE
    ops on those post-cancellation doubles — feed QUANTIZED y (the
    golden quantizes bucket means at 6dp).
    Each SSE additionally pins at 6dp BEFORE F (see the inline note:
    a two-point segment's true-zero SSE comes out of power sums as a
    tiny residual of either sign, and the pinned grid is where both
    engines agree on the > 0 guard), so F is a fixed chain on pinned
    operands. The SQL restatement must use the same formula shape
    (Syy - Sxy^2/Sxx, pooled minus parts, same parenthesization).

    Guards: NULL key/x/y rows are excluded. F is NULL when n < 5 (no
    residual df), when either segment has n < 2, when any fitted
    frame has Sxx <= 0 (constant x — slope undefined; fail-closed),
    or when the pinned residual sum is 0 (perfect fits — nothing to
    ratio).

    Scale shape: ONE conditional-moment hash aggregate per key (the
    segment flag routes each row's power sums), map-side partials, no
    window, no join. Returns one row per key: ``(key, n, n_1, n_2,
    sse_pooled, sse_1, sse_2, f_stat)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    seg1 = F.col("__x") <= F.lit(float(breakpoint))

    # decimal conditional power sums AND decimal cancellation (the
    # durbin_watson convention): each centered moment's cancelling
    # numerator (n*sxx - sx^2 etc.) is formed in exact decimal and only
    # the compact post-cancellation result casts to double — a float
    # sum's value is shuffle-order-dependent, and a cast-then-cancel
    # chain amplifies DuckDB's 1-ulp-off DECIMAL->DOUBLE cast ~1e8x
    # (round-10 durbin_watson driver red row). Contract (>= 10x
    # compact-cast headroom): bucket index |x| < 1e6 on a <= 4dp grid,
    # |y| < 1e5 on a <= 6dp grid, n < 1e5 rows per key.
    xdec = F.col("__x").cast("decimal(14,4)")
    ydec = F.col("__y").cast("decimal(16,6)")

    def _sums(tag: str, m):
        x = F.when(m, xdec)
        y = F.when(m, ydec)
        return [
            F.count(x).alias(f"__n{tag}"),
            F.sum(x).cast("decimal(16,4)").alias(f"__sx{tag}"),
            F.sum(y).cast("decimal(18,6)").alias(f"__sy{tag}"),
            F.sum(x * ydec).cast("decimal(30,10)").alias(f"__sxy{tag}"),
            F.sum(x * xdec).cast("decimal(26,8)").alias(f"__sxx{tag}"),
            F.sum(y * ydec).cast("decimal(31,12)").alias(f"__syy{tag}"),
        ]

    agg = base.groupBy("__k").agg(
        *_sums("p", F.lit(True)), *_sums("1", seg1), *_sums("2", ~seg1)
    )

    def _sse(tag: str):
        n = F.col(f"__n{tag}").cast("double")
        n_dec = F.col(f"__n{tag}").cast("decimal(6,0)")
        sx_d = F.col(f"__sx{tag}")
        sy_d = F.col(f"__sy{tag}")
        sxx_n = (
            (n_dec * F.col(f"__sxx{tag}")) - (sx_d * sx_d)
        ).cast("double")
        sxy_n = (
            (n_dec * F.col(f"__sxy{tag}")).cast("decimal(36,10)")
            - (sx_d * sy_d).cast("decimal(36,10)")
        ).cast("double")
        syy_n = (
            (n_dec * F.col(f"__syy{tag}")).cast("decimal(37,12)")
            - (sy_d * sy_d).cast("decimal(37,12)")
        ).cast("double")
        sxx = sxx_n / n
        sxy = sxy_n / n
        syy = syy_n / n
        return F.when((n >= 2) & (sxx > 0), syy - sxy * sxy / sxx)

    # SSEs pin at 6dp BEFORE F: a two-point (or perfectly collinear)
    # segment has true SSE 0, which power sums render as a tiny float
    # residual of either sign — unpinned, the two engines could disagree
    # on the > 0 guard or explode F differently; on the pinned grid both
    # see 0.000000 and fail closed together. The pin also closes the
    # x/0 parity hole (Spark doubles divide-by-zero to Infinity, DuckDB
    # to NULL).
    ssep = F.round(_sse("p") + F.lit(1e-9), 6)
    sse1 = F.round(_sse("1") + F.lit(1e-9), 6)
    sse2 = F.round(_sse("2") + F.lit(1e-9), 6)
    n = F.col("__np").cast("double")
    f_stat = F.when(
        (n >= 5.0) & (sse1 + sse2 > 0),
        ((ssep - sse1 - sse2) / 2.0) / ((sse1 + sse2) / (n - 4.0)),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__np").cast("long").alias("n"),
        F.col("__n1").cast("long").alias("n_1"),
        F.col("__n2").cast("long").alias("n_2"),
        ssep.alias("sse_pooled"),
        sse1.alias("sse_1"),
        sse2.alias("sse_2"),
        F.round(f_stat + F.lit(1e-9), 4).alias("f_stat"),
    )


def _ecdf_cells(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    value_col: str,
    sample_a,
    below: dict | None = None,
    **over: Column,
) -> DataFrame:
    """Pooled (key, value) cells of the empirical-CDF drift family:
    :func:`~mr_dice_spark.operators.ranks.two_sample_cells` on the rows
    whose value is not NaN. NaN is non-NULL and sorts last: it would
    poison the lead gap and ride every guard (NaN survives coalesce)
    into a NaN statistic, so it is excluded like NULL and the
    fail-closed contract holds.

    Adds, per cell, the B count ``__tb``, the INCLUSIVE cumulative
    counts ``__cca``/``__ccb`` (strict prefix + own count) and the key
    total ``__nb = __nn - __na`` — all exact longs. ``below`` and
    ``over`` pass through to ``two_sample_cells``.
    """
    cells = two_sample_cells(
        df.where(~F.isnan(F.col(value_col).cast("double"))),
        key_col,
        sample_col,
        value_col,
        sample_a,
        below={"__clta": "__ta", **(below or {})},
        **over,
    )
    cca = F.col("__clta") + F.col("__ta")
    return cells.select(
        "*",
        (F.col("__t") - F.col("__ta")).alias("__tb"),
        cca.alias("__cca"),
        (F.col("__clt") + F.col("__t") - cca).alias("__ccb"),
        (F.col("__nn") - F.col("__na")).alias("__nb"),
    )


def _ecdf_per_key(
    cells: DataFrame, key_col: str, out: dict, **aggs: Column
) -> DataFrame:
    """Close an :func:`_ecdf_cells` table to ``(key, n_a, n_b, *out)``:
    one aggregate per key carrying the totals and each ``aggs`` column,
    then each ``out`` column rounded at 6 — NULL for keys missing either
    sample (no distance to a nonexistent distribution: fail-closed)."""
    both = (F.col("__na") > 0) & (F.col("__nb") > 0)
    per_key = cells.groupBy("__g").agg(
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
        *[agg.alias(name) for name, agg in aggs.items()],
    )
    return per_key.select(
        F.col("__g").alias(key_col),
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        *[
            F.round(F.when(both, col) + F.lit(1e-9), 6).alias(name)
            for name, col in out.items()
        ],
    )


def wasserstein_1(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    value_col: str,
    sample_a,
) -> DataFrame:
    """Per-key 1-Wasserstein (earth-mover) distance between two samples
    of a numeric column — the drift metric that reports HOW FAR the
    distribution moved in value units, where KS gives the largest CDF
    gap (unitless, sup-norm) and PSI/JSD give binned divergences:
    ``W1 = integral |F_A(v) - F_B(v)| dv``, exact on the empirical
    CDFs as ``sum_i |F_A(v_i) - F_B(v_i)| * (v_{i+1} - v_i)`` over the
    pooled sorted distinct values.

    Rows where ``sample_col == sample_a`` are sample A; every other
    non-NULL sample value is B (the two_proportion split convention is
    explicit arms; here the caller usually feeds a boolean). NULL
    key/sample/value rows and NaN values are excluded. Keys missing
    either sample report NULL w1 (no distance to a nonexistent
    distribution — fail-closed). The staging is the shared
    :func:`~mr_dice_spark.operators.ranks.two_sample_cells` (through
    :func:`_ecdf_cells`), as for the rest of the ECDF family.

    Cross-engine determinism: cell counts and cumulative counts are
    exact integers from the tie-collapsed (key, value) table; each
    step term ``|ca/na - cb/nb| * gap`` is a fixed IEEE chain on exact
    operands, nudge-pinned at 9dp before the final sum (the
    nelson_aalen increment contract) so both engines add identical
    values; the closing sum adds them as exact decimals (the
    durbin_watson convention) so it is order- and engine-invariant.

    Scale shape: one (key, value) cell aggregate, the shared staging's
    ordered window (strict prefix counts + the lead gap) and key-total
    window on one exchange (per-key cell tables are the bounded frames
    — the kruskal_wallis convention: key by shard/day/type, don't feed
    one global key a corpus of distinct floats), one final per-key
    aggregate. Returns ``(key, n_a, n_b, w1)``.
    """
    w_lead = Window.partitionBy("__g").orderBy("__v")
    staged = _ecdf_cells(
        df,
        key_col,
        sample_col,
        value_col,
        sample_a,
        __gap=F.lead("__v").over(w_lead) - F.col("__v"),
    )
    # try_divide: a key missing one sample entirely has na or nb = 0 —
    # ANSI long division would raise DIVIDE_BY_ZERO inside the aggregate
    # instead of reaching the fail-closed NULL guard below (caught by the
    # round-9 hellinger twin's missing-sample test)
    term = F.round(
        F.abs(
            F.try_divide(F.col("__cca").cast("double"), F.col("__na"))
            - F.try_divide(F.col("__ccb").cast("double"), F.col("__nb"))
        )
        * F.col("__gap")
        + F.lit(1e-12),
        9,
    )
    return _ecdf_per_key(
        staged,
        key_col,
        # a key with one distinct value has no gap terms: SUM over an
        # empty set is NULL, but the true W1 between two point masses
        # at the same value is 0
        {"w1": F.coalesce(F.col("__w1"), F.lit(0.0))},
        # the 9dp-pinned terms sum as exact decimals (the durbin_watson
        # convention) — order- and engine-invariant, so the closing sum
        # can never straddle the 6dp output grid across fresh processes
        __w1=F.sum(
            F.when(F.col("__gap").isNotNull(), term).cast("decimal(19,9)")
        ).cast("double"),
    )


def durbin_watson(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Durbin-Watson statistic on the residuals of the simple
    OLS fit of ``y`` on ``x`` — the classic serial-correlation screen
    for a fitted trend: ``DW = sum_t (e_t - e_{t-1})^2 / sum_t e_t^2``
    over the x-ordered residuals, ~2 when residuals are white, -> 0
    under positive autocorrelation (the trend is missing structure,
    e.g. seasonality the line can't express), -> 4 under negative.
    Complements :func:`chow_test` (is the trend broken at a known
    point?) and :func:`ljung_box` (whiteness across many lags) on the
    same bucketed-series contract.

    Bucketed-series contract (the chow_test convention): callers feed a
    QUANTIZED per-key series — (key, bucket_x, 6dp-rounded y) — so the
    per-key frame is bounded by its own time span and ``x`` is unique
    within key (ties in x would make the lag order ambiguous; validated
    with a fail-fast count). NULL key/x/y rows are excluded.

    Cross-engine determinism: slope/intercept come from one power-sum
    aggregate whose cancelling differences (n*sxy - sx*sy and
    n*sxx - sx*sx) are formed IN EXACT DECIMAL before any cast to
    double, then pin at 9dp; residuals are fixed IEEE chains on pinned
    coefficients, pinned at 9dp before differencing; DW is one division
    of two pinned-term sums, rounded at 6. Keys with < 3 points, zero
    x-variance, or all-zero residuals (a perfect fit) report NULL dw —
    fail-closed, the statistic is undefined there.

    Scale shape: ONE pass — the per-key power sums ride unordered
    window aggregates over the SAME key partitioning the lag window
    needs, so the whole statistic is one exchange on the key: scan ->
    shuffle(key) -> windows -> closing aggregate (which reuses the
    partitioning). No join back, no recompute of the caller's upstream
    frame, no global sort, no Python. Returns
    ``(key, n, slope, intercept, dw)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_lag = Window.partitionBy("__k").orderBy("__x")
    # DECIMAL power sums AND decimal cancellation: a float SUM's value
    # depends on shuffle arrival order, so the 9dp coefficient pins
    # downstream could straddle a grid boundary run-to-run (observed as
    # a sweep flake on this very operator family). Summing exact
    # decimals is order-invariant AND engine-invariant. The round-10
    # driver red row proved the remaining hole: DuckDB's DECIMAL->DOUBLE
    # cast can be 1 ulp off correctly-rounded (Spark's is exact), and
    # the cancelling chain n*sxy - sx*sy amplifies that ulp ~1e8x into
    # the 9dp pin. So the cancellation itself happens IN EXACT DECIMAL
    # and only the compact post-cancellation numerator/denominator are
    # cast to double — a 1-ulp cast wobble there is ~1e-16 relative.
    # Contract (compact-cast headroom, >= 10x at each bound): bucket
    # index |x| < 1e6 on a <= 4dp grid, |y| < 1e9 on a <= 6dp grid,
    # n < 1e5 rows per key (a bucketed series is bounded by its own
    # time span). Every decimal product below stays within 38 digits
    # on BOTH engines, so no intermediate rounds.
    xd = F.col("__x").cast("decimal(14,4)")
    yd = F.col("__y").cast("decimal(16,6)")
    n_cnt = F.count(F.lit(1)).over(w_all)
    n_dec = n_cnt.cast("decimal(6,0)")
    sx_dec = F.sum(xd).over(w_all).cast("decimal(16,4)")
    sy_dec = F.sum(yd).over(w_all).cast("decimal(21,6)")
    sxx_dec = F.sum(xd * xd).over(w_all).cast("decimal(26,8)")
    sxy_dec = F.sum(xd * yd).over(w_all).cast("decimal(31,10)")
    num_dec = (n_dec * sxy_dec).cast("decimal(37,10)") - (
        sx_dec * sy_dec
    ).cast("decimal(37,10)")
    den_dec = (n_dec * sxx_dec) - (sx_dec * sx_dec)
    n_d = n_cnt.cast("double")
    sx = sx_dec.cast("double")
    sy = sy_dec.cast("double")
    sxx = den_dec.cast("double")
    num = num_dec.cast("double")
    staged = base.select(
        "__k",
        "__x",
        "__y",
        n_d.cast("long").alias("__cnt"),
        F.round(F.when(sxx > 0, num / sxx) + F.lit(1e-12), 9).alias("__b"),
        F.round(
            F.when(sxx > 0, (sy - (num / sxx) * sx) / n_d) + F.lit(1e-12), 9
        ).alias("__a"),
        # x-tie detection shares the lag exchange: a duplicate x shows
        # up as lag(x) == x under the (key, x) sort
        F.when(F.lag("__x").over(w_lag) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie"),
    )
    resid = staged.select(
        "__k",
        "__x",
        "__cnt",
        "__b",
        "__a",
        "__tie",
        F.round(
            F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x"))
            + F.lit(1e-12),
            9,
        ).alias("__e"),
    )
    diffed = resid.select(
        "__k",
        "__cnt",
        "__b",
        "__a",
        "__tie",
        "__e",
        (F.col("__e") - F.lag("__e").over(w_lag)).alias("__d"),
    )
    ed = F.col("__e").cast("decimal(18,9)")
    dd = F.col("__d").cast("decimal(18,9)")
    out = diffed.groupBy("__k").agg(
        F.max("__cnt").alias("__n"),
        F.max("__b").alias("__slope"),
        F.max("__a").alias("__icpt"),
        F.sum(ed * ed).cast("double").alias("__sse"),
        F.sum(dd * dd).cast("double").alias("__ssd"),
        F.max("__tie").alias("__ties"),
    )
    dw = F.when(
        (F.col("__n") >= 3)
        & (F.col("__ties") == 0)
        & F.col("__slope").isNotNull()
        & (F.col("__sse") > 0),
        F.col("__ssd") / F.col("__sse"),
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        F.round(F.col("__slope") + F.lit(1e-9), 6).alias("slope"),
        F.round(F.col("__icpt") + F.lit(1e-9), 6).alias("intercept"),
        F.round(dw + F.lit(1e-9), 6).alias("dw"),
    )


def ljung_box(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Per-key Ljung-Box portmanteau whiteness test over the bucketed
    series: ``Q = n (n+2) sum_{h=1..m} rho_h^2 / (n - h)``, with the
    TEXTBOOK acf ``rho_h = sum_{t>h} (v_t - vbar)(v_{t-h} - vbar) /
    sum_t (v_t - vbar)^2`` (full-series mean and denominator). Q ~
    chi-square(m) under whiteness — the multi-lag completion of
    :func:`durbin_watson`'s lag-1 screen, and the standard 'is anything
    left?' check after a fit. Deliberately NOT
    :func:`autocorrelation_by_lag`'s pairwise-Pearson acf: Ljung-Box's
    null distribution is derived for the full-denominator estimator, so
    reusing the screening acf would produce a Q that is not
    chi-square(m) even asymptotically.

    Bucketed-series contract (the durbin_watson convention): callers
    feed (key, bucket_x, quantized y) with x unique per key; NULL rows
    are excluded; x-ties (detected on the shared lag exchange) fail
    closed via NULL q. Keys with
    ``n <= max_lag`` points or zero variance report NULL q (the
    statistic needs every lag to exist). Lag pairing follows x ORDER,
    not x arithmetic — missing buckets shift the series like any acf on
    a compacted sequence (document the grid upstream).

    Cross-engine determinism: vbar pins at 9dp; per-lag cross sums are
    sums of fixed IEEE products of pinned deviations, each rho_h pins
    at 9dp before squaring; Q is a fixed m-term chain on pinned rhos,
    rounded at 6.

    Scale shape: ONE pass — the per-key count and pinned mean ride
    unordered window aggregates over the SAME key partitioning the lag
    window needs (the durbin_watson convention), so the whole statistic
    is one exchange: scan -> shuffle(key) -> windows (all m lag columns
    in one pass) -> closing aggregate reusing the partitioning. No join
    back, no recompute of the caller's upstream frame. Returns
    ``(key, n, df_lags, q_stat)``.
    """
    if max_lag < 1:
        raise ValueError(f"ljung_box: max_lag must be >= 1, got {max_lag}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_lag = Window.partitionBy("__k").orderBy("__x")
    # decimal mean: order-invariant sum (the durbin_watson convention)
    yd = F.col("__y").cast("decimal(16,6)")
    mean = F.round(
        F.sum(yd).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all).cast("double")
        + F.lit(1e-12),
        9,
    )
    dev = base.select(
        "__k",
        "__x",
        F.count(F.lit(1)).over(w_all).alias("__n"),
        # the deviation is re-quantized onto the 9dp grid so the lag
        # products below are products of exact decimals
        F.round(F.col("__y") - mean + F.lit(1e-12), 9).alias("__d"),
        F.when(F.lag("__x").over(w_lag) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie"),
    )
    lag_cols = [
        F.lag("__d", h).over(w_lag).alias(f"__d{h}")
        for h in range(1, max_lag + 1)
    ]
    lagged = dev.select("__k", "__n", "__tie", "__d", *lag_cols)
    ddec = F.col("__d").cast("decimal(18,9)")
    aggs = [
        F.max("__n").alias("__cnt"),
        F.max("__tie").alias("__ties"),
        F.sum(ddec * ddec).cast("double").alias("__ss"),
    ]
    for h in range(1, max_lag + 1):
        aggs.append(
            F.sum(ddec * F.col(f"__d{h}").cast("decimal(18,9)"))
            .cast("double")
            .alias(f"__c{h}")
        )
    per_key = lagged.groupBy("__k").agg(*aggs)
    q_terms = None
    for h in range(1, max_lag + 1):
        rho = F.round(
            F.col(f"__c{h}") / F.col("__ss") + F.lit(1e-12), 9
        )
        term = (rho * rho) / (F.col("__cnt") - F.lit(h)).cast("double")
        q_terms = term if q_terms is None else q_terms + term
    n_d = F.col("__cnt").cast("double")
    q = F.when(
        (F.col("__cnt") > max_lag)
        & (F.col("__ties") == 0)
        & (F.col("__ss") > 0),
        n_d * (n_d + 2.0) * q_terms,
    )
    return per_key.select(
        F.col("__k").alias(key_col),
        F.col("__cnt").cast("long").alias("n"),
        F.lit(max_lag).cast("long").alias("df_lags"),
        F.round(q + F.lit(1e-9), 6).alias("q_stat"),
    )


def runs_test(
    df: DataFrame,
    key_col: str,
    x_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Wald-Wolfowitz runs test for randomness of a sequence
    around its own median: order the series by ``x``, mark each point
    above/below the key's median (points EQUAL to the median are
    dropped — the standard convention; with an interpolated median on
    an even count nothing usually ties), count sign runs R, and report
    the normal-approximation z-score

        E[R] = 2 n1 n2 / n + 1
        Var[R] = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n - 1))
        z = (R - E[R]) / sqrt(Var[R])

    |z| >> 0 flags too FEW runs (clustering/trend — the usual data-bug
    signature: a stuck sensor, a backfill writing one value for hours)
    or too MANY (oscillation). The distribution-free cousin of
    :func:`durbin_watson` — no fit required, only an order.

    Bucketed-series contract (durbin_watson convention): callers feed
    (key, bucket_x, quantized value) with x unique per key; NULL rows
    excluded; x-ties fail closed. Keys where n1 = 0 or n2 = 0 after
    dropping median-ties (a constant series) or n < 2 report NULL z.

    Cross-engine determinism: the median is the exact interpolated
    midpoint both engines compute identically on doubles, pinned at 9dp
    before the compare; R, n1, n2 are exact integers; E/Var/z are fixed
    IEEE chains on integers, rounded at 6.

    Scale shape: ONE pass — the per-key exact median rides an unordered
    window aggregate over the SAME key partitioning the run-boundary
    lag window needs (the durbin_watson convention): scan ->
    shuffle(key) -> windows -> closing aggregate reusing the
    partitioning. Median-tied rows are NULL-signed rather than dropped,
    and the run-boundary lag reads the last NON-NULL sign
    (ignorenulls), so no row drop, no join back, and a key whose every
    value ties the median still reports its fail-closed (0, 0, 0,
    NULL) row from the same aggregate. Returns
    ``(key, n_above, n_below, runs, z)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_lag = Window.partitionBy("__k").orderBy("__x")
    med = F.round(F.median("__v").over(w_all) + F.lit(1e-12), 9)
    vp = F.round(F.col("__v") + F.lit(1e-12), 9)
    signed = base.select(
        "__k",
        "__x",
        F.when(vp != med, vp > med).alias("__up"),
        F.when(F.lag("__x").over(w_lag) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie"),
    )
    prev_up = F.last("__up", ignorenulls=True).over(
        w_lag.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = signed.select(
        "__k",
        "__up",
        "__tie",
        F.when(
            F.col("__up").isNotNull()
            & (prev_up.isNull() | (prev_up != F.col("__up"))),
            1,
        )
        .otherwise(0)
        .alias("__new_run"),
    )
    out = marked.groupBy("__k").agg(
        F.count_if(F.coalesce(F.col("__up"), F.lit(False))).alias("__n1"),
        F.count_if(~F.coalesce(F.col("__up"), F.lit(True))).alias("__n2"),
        F.sum("__new_run").alias("__r"),
        F.max("__tie").alias("__ties"),
    )
    n1 = F.col("__n1").cast("double")
    n2 = F.col("__n2").cast("double")
    n = n1 + n2
    e_r = 2.0 * n1 * n2 / n + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0))
    )
    z = F.when(
        (F.col("__n1") > 0)
        & (F.col("__n2") > 0)
        & (n > 2)
        & (var_r > 0)
        & (F.col("__ties") == 0),
        (F.col("__r").cast("double") - e_r) / F.sqrt(var_r),
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__n1").cast("long").alias("n_above"),
        F.col("__n2").cast("long").alias("n_below"),
        F.col("__r").cast("long").alias("runs"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def gumbel_block_maxima(
    df: DataFrame,
    key_col: str,
    block_col: str,
    value_col: str,
    return_period: int = 100,
) -> DataFrame:
    """Per-key Gumbel (EV-I) fit to BLOCK MAXIMA by the method of
    moments, with the ``return_period``-block return level — the
    tail-risk readout ("what daily maximum should we budget for once
    per hundred days?") that mean/percentile profiles cannot give,
    because extremes of a light-tailed process follow the Gumbel law
    regardless of the body's shape (Fisher-Tippett). With block maxima
    M_b, sample mean m and sample sd s:

        scale beta = s * sqrt(6) / pi
        loc   mu   = m - gamma * beta          (gamma = 0.57721566...)
        level_T    = mu - beta * ln(-ln(1 - 1/T))

    Blocking contract: the caller supplies ``block_col`` (a day index,
    an hour bucket — the resample grid), so the maxima frame is bounded
    by the key's time span, never the corpus. NULL key/block/value rows
    are excluded. Keys with < 2 blocks report NULL fit (no variance);
    zero-variance maxima report scale 0 and level = loc (a degenerate
    but well-defined point mass).

    Cross-engine determinism: the per-block max and block counts are
    exact; the power sums are exact decimals and the variance
    numerator ``n*s2 - s1^2`` is formed in exact decimal before the
    single cast to double (the durbin_watson cancellation convention —
    NOT the engine's streaming stddev, whose update order differs
    between engines); m and s pin at 9dp; mu/beta/level are fixed IEEE
    chains on pinned operands, rounded at 6.

    Scale shape: one (key, block) max aggregate, one per-key moment
    aggregate — two key-shuffles of scalars with map-side combine.
    Returns ``(key, n_blocks, gumbel_loc, gumbel_scale, ret_level)``.
    """
    import math

    if return_period < 2:
        raise ValueError(
            f"gumbel_block_maxima: return_period must be >= 2, got {return_period}"
        )
    maxima = (
        df.where(
            F.col(key_col).isNotNull()
            & F.col(block_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(key_col).alias("__k"), F.col(block_col).alias("__b"))
        .agg(F.max(F.col(value_col).cast("double")).alias("__m"))
    )
    # decimal sums AND decimal cancellation (the durbin_watson
    # convention): maxima are quantized onto a 6dp grid so the power
    # sums are order-invariant, and the variance numerator n*s2 - s1^2
    # is formed in exact decimal — casting the sums to double first
    # lets DuckDB's 1-ulp-off DECIMAL->DOUBLE cast be amplified by the
    # cancellation into the 9dp pins. Contract (>= 10x compact-cast
    # headroom): |max| < 1e5, blocks per key < 1e6.
    md = F.col("__m").cast("decimal(16,6)")
    agg = maxima.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(md).cast("decimal(18,6)").alias("__s1d"),
        F.sum(md * md).cast("decimal(31,12)").alias("__s2d"),
    )
    vn = (
        (F.col("__n").cast("decimal(6,0)") * F.col("__s2d")).cast(
            "decimal(37,12)"
        )
        - (F.col("__s1d") * F.col("__s1d")).cast("decimal(37,12)")
    ).cast("double")
    n_d = F.col("__n").cast("double")
    mean_pin = F.round(
        F.col("__s1d").cast("double") / n_d + F.lit(1e-12), 9
    )
    var = vn / (n_d * (n_d - 1.0))
    sd = F.round(F.sqrt(F.greatest(var, F.lit(0.0))) + F.lit(1e-12), 9)
    beta = sd * F.lit(math.sqrt(6.0) / math.pi)
    mu = mean_pin - F.lit(0.5772156649015329) * beta
    t = float(return_period)
    level = mu - beta * F.lit(math.log(-math.log(1.0 - 1.0 / t)))
    guard = F.col("__n") >= 2
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n_blocks"),
        F.round(F.when(guard, mu) + F.lit(1e-9), 6).alias("gumbel_loc"),
        F.round(F.when(guard, beta) + F.lit(1e-9), 6).alias("gumbel_scale"),
        F.round(F.when(guard, level) + F.lit(1e-9), 6).alias("ret_level"),
    )


def hellinger_tvd_from_buckets(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    bucket_col: str,
    sample_a,
) -> DataFrame:
    """Per-key Hellinger distance and total-variation distance between
    two samples' BUCKET distributions — the bounded-metric drift pair
    completing the family: PSI/JSD (binned divergences, unbounded /
    log-scaled), KS (sup-norm on CDFs), :func:`wasserstein_1` (value
    units), and now H in [0, 1] (sensitive to mass on near-empty
    buckets via the sqrt) and TVD in [0, 1] (the largest probability
    gap any event can see — the metric with an operational reading:
    'no classifier can tell the samples apart better than TVD'):

        H   = sqrt(max(0, 1 - sum_b sqrt(pa_b * pb_b)))
        TVD = 0.5 * sum_b |pa_b - pb_b|

    Pre-bucketed contract (the cusum_from_buckets convention): the
    caller supplies ``bucket_col`` (a band id, a quantized value), so
    cells are vocabulary-bounded and both engines see identical integer
    counts. Rows where ``sample_col == sample_a`` are sample A, other
    non-NULL samples B (the wasserstein_1 split). NULL key/sample/
    bucket rows are excluded. Keys missing either sample report NULL
    distances (fail-closed, no distribution to compare). A bucket
    absent from one sample contributes sqrt(0) = 0 / |pa - 0| = pa
    exactly — no smoothing constant to tune (unlike PSI/KL).

    Cross-engine determinism: counts are exact integers; pa/pb are
    single divisions; the BC and L1 terms pin at 9dp per bucket before
    their sums; H and TVD round at 6.

    Scale shape: one (key, bucket) cell aggregate, one per-key window
    for totals sharing the final aggregate's partitioning, one closing
    aggregate. Returns ``(key, n_a, n_b, hellinger, tvd)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        (F.col(sample_col) == F.lit(sample_a)).alias("__a"),
        F.col(bucket_col).alias("__b"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(sample_col).isNotNull()
        & F.col(bucket_col).isNotNull()
    )
    cells = base.groupBy("__k", "__b").agg(
        F.count_if(F.col("__a")).alias("__ca"),
        F.count_if(~F.col("__a")).alias("__cb"),
    )
    w_all = Window.partitionBy("__k")
    staged = cells.select(
        "__k",
        "__ca",
        "__cb",
        F.sum("__ca").over(w_all).alias("__na"),
        F.sum("__cb").over(w_all).alias("__nb"),
    )
    # try_divide: a key missing one sample has a zero total — ANSI long
    # division would raise inside the aggregate; NULL terms fall through
    # to the fail-closed guard instead (the wasserstein_1 fix)
    pa = F.try_divide(F.col("__ca").cast("double"), F.col("__na"))
    pb = F.try_divide(F.col("__cb").cast("double"), F.col("__nb"))
    bc_term = F.round(F.sqrt(pa * pb) + F.lit(1e-12), 9)
    l1_term = F.round(F.abs(pa - pb) + F.lit(1e-12), 9)
    out = staged.groupBy("__k").agg(
        F.max("__na").alias("__ta"),
        F.max("__nb").alias("__tb"),
        # the 9dp-pinned terms sum as exact decimals (the durbin_watson
        # order-invariance convention) so H and TVD are run-deterministic
        F.sum(bc_term.cast("decimal(19,9)")).cast("double").alias("__bc"),
        F.sum(l1_term.cast("decimal(19,9)")).cast("double").alias("__l1"),
    )
    both = (F.col("__ta") > 0) & (F.col("__tb") > 0)
    h = F.when(
        both, F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("__bc")))
    )
    tvd = F.when(both, F.lit(0.5) * F.col("__l1"))
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__ta").cast("long").alias("n_a"),
        F.col("__tb").cast("long").alias("n_b"),
        F.round(h + F.lit(1e-9), 6).alias("hellinger"),
        F.round(tvd + F.lit(1e-9), 6).alias("tvd"),
    )


def ols_influence(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    top_k: int = 3,
) -> DataFrame:
    """Per-key simple-OLS influence diagnostics — WHICH points bend the
    fitted trend: for each (x, y) under the key's fit of y on x,

        leverage   h_t = 1/n + (x_t - xbar)^2 / Sxx
        std resid  r_t = e_t / (s * sqrt(1 - h_t)),  s^2 = SSE / (n - 2)
        Cook's D   D_t = r_t^2 h_t / (2 (1 - h_t))

    and the ``top_k`` highest-D points per key (ties broken by x — the
    uplift tiebreak discipline). The completion of the trend family:
    :func:`group_ols_trend` fits, :func:`chow_test` tests a break,
    :func:`durbin_watson` checks the residuals, this names the points a
    data bug (one corrupt day, one backfilled burst) planted in the fit.

    Bucketed-series contract (durbin_watson convention): (key,
    bucket_x, quantized y), x unique per key, NULL rows excluded. Keys
    with n < 4 (s needs n-2 > 0 with a margin for a meaningful D),
    zero x-variance, or a PERFECT fit (SSE = 0 — no residual to
    standardize) return no rows for that key: this is a top-k readout
    of anomalies, and a key with no computable anomaly score has no
    rows to rank (fail-empty, matching per-group top-k semantics
    elsewhere).

    Cross-engine determinism: xbar/Sxx/slope/intercept pin at 9dp from
    one power-sum aggregate whose cancelling differences are formed in
    exact decimal before any cast to double; e_t pins at 9dp; s pins at 9dp from the
    explicit power-sum form; h/r/D are fixed IEEE chains on pinned
    operands; the rank orders by (D DESC, x) with D pinned at 9dp
    BEFORE ranking so both engines agree on the cut; outputs round
    at 6.

    Scale shape: ONE pass — power sums, the residual SSE, and the
    x-tie check all ride window aggregates over the SAME key
    partitioning the rank window needs (the durbin_watson convention):
    scan -> shuffle(key) -> window stages -> rank -> filter. No join
    back, no recompute of the caller's upstream frame. Returns
    ``(key, x, y, leverage, std_resid, cooks_d)``.
    """
    if top_k < 1:
        raise ValueError(f"ols_influence: top_k must be >= 1, got {top_k}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_lag = Window.partitionBy("__k").orderBy("__x")
    # decimal power sums AND decimal cancellation (the durbin_watson
    # convention; this operator's pin chain is the longest in the
    # module, which is where the float-sum shuffle-order wiggle was
    # first observed as a sweep flake). DuckDB's DECIMAL->DOUBLE cast
    # can be 1 ulp off correctly-rounded, and n*sxy - sx*sy amplifies
    # that ulp ~1e8x into the 9dp pins (round-10 durbin_watson driver
    # red row) — so the cancelling differences are formed IN EXACT
    # DECIMAL and only the compact post-cancellation results cast to
    # double. Contract (>= 10x headroom at each compact cast): bucket
    # index |x| < 1e6 on a <= 4dp grid, |y| < 1e9 on a <= 6dp grid,
    # n < 1e5 rows per key.
    xd = F.col("__x").cast("decimal(14,4)")
    yd = F.col("__y").cast("decimal(16,6)")
    n_cnt = F.count(F.lit(1)).over(w_all)
    n_dec = n_cnt.cast("decimal(6,0)")
    sx_dec = F.sum(xd).over(w_all).cast("decimal(16,4)")
    sy_dec = F.sum(yd).over(w_all).cast("decimal(21,6)")
    sxx_dec = F.sum(xd * xd).over(w_all).cast("decimal(26,8)")
    sxy_dec = F.sum(xd * yd).over(w_all).cast("decimal(31,10)")
    num_dec = (n_dec * sxy_dec).cast("decimal(37,10)") - (
        sx_dec * sy_dec
    ).cast("decimal(37,10)")
    den_dec = (n_dec * sxx_dec) - (sx_dec * sx_dec)
    n_d = n_cnt.cast("double")
    sx = sx_dec.cast("double")
    sy = sy_dec.cast("double")
    num = num_dec.cast("double")
    den = den_dec.cast("double")
    sxx_c = den / n_d
    staged = base.select(
        "__k",
        "__x",
        "__y",
        n_d.cast("long").alias("__cnt"),
        F.round(sx / n_d + F.lit(1e-12), 9).alias("__xbar"),
        F.round(sxx_c + F.lit(1e-12), 9).alias("__sxx"),
        F.round(num / den + F.lit(1e-12), 9).alias("__b"),
        F.round((sy - (num / den) * sx) / n_d + F.lit(1e-12), 9).alias("__a"),
        den.alias("__den"),
        F.when(F.lag("__x").over(w_lag) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie0"),
    ).where(F.col("__den") > 0)
    resid = staged.select(
        "__k",
        "__x",
        "__y",
        "__cnt",
        "__xbar",
        "__sxx",
        F.max("__tie0").over(w_all).alias("__ties"),
        F.round(
            F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x"))
            + F.lit(1e-12),
            9,
        ).alias("__e"),
    )
    with_sse = resid.select(
        "__k",
        "__x",
        "__y",
        "__cnt",
        "__xbar",
        "__sxx",
        "__ties",
        "__e",
        F.round(
            F.sum(
                F.col("__e").cast("decimal(18,9)")
                * F.col("__e").cast("decimal(18,9)")
            )
            .over(w_all)
            .cast("double")
            + F.lit(1e-12),
            9,
        ).alias("__sse"),
    )
    joined = with_sse.where(
        (F.col("__sse") > 0)
        & (F.col("__cnt") >= 4)
        & (F.col("__ties") == 0)
    )
    cnt_d = F.col("__cnt").cast("double")
    s = F.round(
        F.sqrt(F.col("__sse") / (cnt_d - 2.0)) + F.lit(1e-12), 9
    )
    dx = F.col("__x") - F.col("__xbar")
    h = 1.0 / cnt_d + (dx * dx) / F.col("__sxx")
    # r pins at 9dp: the e/(s*sqrt(1-h)) chain is the one place the two
    # engines' ROUND(double) implementations can leave a last-ulp gap on
    # the pinned operands (caught by the golden's first sweep); the pin
    # absorbs it before the 6dp output round and before D
    r = F.round(
        F.col("__e") / (s * F.sqrt(F.lit(1.0) - h)) + F.lit(1e-12), 9
    )
    d = F.round((r * r) * h / (2.0 * (F.lit(1.0) - h)) + F.lit(1e-12), 9)
    scored = joined.select(
        "__k",
        "__x",
        "__y",
        F.round(h + F.lit(1e-9), 6).alias("leverage"),
        F.round(r + F.lit(1e-9), 6).alias("std_resid"),
        d.alias("__d"),
    )
    w_rank = Window.partitionBy("__k").orderBy(F.desc("__d"), F.col("__x"))
    return (
        scored.withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") <= top_k)
        .select(
            F.col("__k").alias(key_col),
            F.col("__x").alias(x_col),
            F.col("__y").alias(y_col),
            "leverage",
            "std_resid",
            F.round(F.col("__d") + F.lit(1e-9), 6).alias("cooks_d"),
        )
    )


def cramer_von_mises_2s(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    value_col: str,
    sample_a,
) -> DataFrame:
    """Per-key two-sample Cramér–von Mises distance — the third member
    of the empirical-CDF drift family: KS reports the LARGEST CDF gap
    (one point decides), :func:`wasserstein_1` the AREA between CDFs in
    value units (tail-sensitive), CvM the MASS-WEIGHTED squared gap

        T = (n_a * n_b / N^2) * sum_pooled (F_A(v) - F_B(v))^2

    summed over the N pooled observations with multiplicity (the
    standard computational form: right-continuous empirical CDFs
    evaluated at every pooled sample point). CvM sees persistent small
    gaps KS ignores and, unlike W1, is scale-free — the pair (w1, cvm)
    separates 'moved far' from 'moved everywhere'.

    Sample split, NULL/NaN exclusion, and the fail-closed contract
    come from the shared staging
    (:func:`~mr_dice_spark.operators.ranks.two_sample_cells` through
    :func:`_ecdf_cells`): rows where ``sample_col == sample_a`` are A,
    every other non-NULL sample is B; keys missing either sample report
    NULL cvm.

    Cross-engine determinism: cell and cumulative counts are exact
    integers; each pooled term ``(ca+cb) * (cca/na - ccb/nb)^2`` is a
    fixed IEEE chain on exact operands, pinned at 9dp; terms sum as
    exact decimal(19,9) (the durbin_watson convention) and the closing
    scale factor is one multiply/divide on exact counts, rounded at 6.

    Scale shape: the shared staging — one (key, value) cell aggregate,
    one key-partitioned ordered window + one key-total window sharing
    the exchange — then one final per-key aggregate. Returns
    ``(key, n_a, n_b, cvm)``.
    """
    cells = _ecdf_cells(df, key_col, sample_col, value_col, sample_a)
    # try_divide: a key missing one sample has na or nb = 0 — NULL rides
    # to the fail-closed guard instead of raising (the wasserstein_1 fix)
    gap = F.try_divide(F.col("__cca").cast("double"), F.col("__na")) - F.try_divide(
        F.col("__ccb").cast("double"), F.col("__nb")
    )
    term = F.round(gap * gap * F.col("__t").cast("double") + F.lit(1e-12), 9)
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    nn = (F.col("__na") + F.col("__nb")).cast("double")
    return _ecdf_per_key(
        cells,
        key_col,
        {"cvm": na * nb / (nn * nn) * F.col("__s")},
        __s=F.sum(term.cast("decimal(19,9)")).cast("double"),
    )


def energy_distance_2s(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    value_col: str,
    sample_a,
) -> DataFrame:
    """Per-key two-sample energy distance (Székely–Rizzo):

        D^2 = 2 E|X - Y| - E|X - X'| - E|Y - Y'|

    with V-statistic expectations over all ordered pairs (cross pairs
    n_a*n_b, within pairs n_a^2 / n_b^2). D^2 >= 0 with equality iff
    the distributions coincide; like W1 it reads in VALUE UNITS, but it
    is a proper metric that powers the energy two-sample test and
    generalizes to embeddings — the 1-d member lands the exact-cells
    machinery the family shares.

    Each pairwise-sum reduces to ONE pass over pooled sorted cells: for
    sample S and targets T, ``sum_{s,t} |s - t| = sum_cells cnt_T(v) *
    [(ccnt_S(v)*v - csum_S(v)) + ((tot_S - csum_S(v)) - (n_S -
    ccnt_S(v))*v)]`` with INCLUSIVE cumulative count/sum (ties
    contribute exactly 0). No pairwise join exists anywhere.

    Sample split, NULL/NaN exclusion, fail-closed NULLs on keys missing
    either sample: the shared staging
    (:func:`~mr_dice_spark.operators.ranks.two_sample_cells` through
    :func:`_ecdf_cells`); the value sums ride its ordered window as
    ``below`` strict prefixes and its key window as totals.

    Cross-engine determinism: counts are exact integers and value sums
    exact decimals (contract: values on a <= 6dp grid, |v| < 1e10 —
    the durbin_watson convention); every per-cell bracket is integer *
    6dp-grid arithmetic that stays exactly representable in doubles
    (documented bound: n_key * |v|_max * cnt_cell < 2^53 / 1e6), so
    per-cell terms land exactly on the 6dp grid and sum as exact
    decimal(19,6); the three closing expectations are single divisions
    on exact operands, pinned at 9dp; output rounds at 6.

    Scale shape: the shared staging — one (key, value) cell aggregate,
    one key-partitioned ordered window + one key-total window sharing
    the exchange — then one final per-key aggregate.
    Returns ``(key, n_a, n_b, energy_d2, energy_d)``.
    """
    vd = F.col("__v").cast("decimal(19,6)")
    sa = F.col("__ta").cast("decimal(19,0)") * vd
    sb = (F.col("__t") - F.col("__ta")).cast("decimal(19,0)") * vd
    w_all = Window.partitionBy("__g")
    cells = _ecdf_cells(
        df,
        key_col,
        sample_col,
        value_col,
        sample_a,
        below={"__clsa": sa, "__clsb": sb},
        __tsa=F.sum(sa).over(w_all).cast("double"),
        __tsb=F.sum(sb).over(w_all).cast("double"),
    )
    # inclusive value sums: strict prefix + own cell, exact decimals
    staged = cells.select(
        "*",
        (F.col("__clsa") + sa).cast("double").alias("__csa"),
        (F.col("__clsb") + sb).cast("double").alias("__csb"),
    )

    def _absdist(ccnt, csum, n, tot):
        # sum_{s in S} |s - v| from inclusive cumulatives, all exact
        below = ccnt.cast("double") * F.col("__v") - csum
        above = (tot - csum) - (n - ccnt).cast("double") * F.col("__v")
        return below + above

    dist_a = _absdist(
        F.col("__cca"), F.col("__csa"), F.col("__na"), F.col("__tsa")
    )
    dist_b = _absdist(
        F.col("__ccb"), F.col("__csb"), F.col("__nb"), F.col("__tsb")
    )
    cross = F.col("__tb").cast("double") * dist_a
    within_a = F.col("__ta").cast("double") * dist_a
    within_b = F.col("__tb").cast("double") * dist_b
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    e_xy = F.round(F.col("__x") / (na * nb) + F.lit(1e-12), 9)
    e_xx = F.round(F.col("__wa") / (na * na) + F.lit(1e-12), 9)
    e_yy = F.round(F.col("__wb") / (nb * nb) + F.lit(1e-12), 9)
    # pinning can leave a ~1e-9 negative residue on identical
    # distributions; clamp so energy_d's sqrt never sees it
    d2 = F.greatest(2.0 * e_xy - e_xx - e_yy, F.lit(0.0))
    return _ecdf_per_key(
        staged,
        key_col,
        {"energy_d2": d2, "energy_d": F.sqrt(d2)},
        __x=F.sum(cross.cast("decimal(19,6)")).cast("double"),
        __wa=F.sum(within_a.cast("decimal(19,6)")).cast("double"),
        __wb=F.sum(within_b.cast("decimal(19,6)")).cast("double"),
    )


def kuiper_2s(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    value_col: str,
    sample_a,
) -> DataFrame:
    """Per-key two-sample Kuiper statistic — the rotation-invariant
    sibling of KS in the empirical-CDF drift family:

        V = D+ + D-,   D+ = max_v (F_A(v) - F_B(v)),
                       D- = max_v (F_B(v) - F_A(v))

    over the pooled distinct values. Where KS reports only the single
    largest one-sided gap, V charges BOTH sides, giving equal
    sensitivity at the tails and under cyclic shifts (a distribution
    that moved mass from both ends to the middle moves D+ and D-
    equally; KS sees half the effect). Completes the CDF quartet:
    KS (sup-norm), :func:`wasserstein_1` (area), CvM (mass-weighted
    square), Kuiper (two-sided sup).

    Sample split, NULL/NaN exclusion, and the fail-closed contract
    come from the shared staging
    (:func:`~mr_dice_spark.operators.ranks.two_sample_cells` through
    :func:`_ecdf_cells`): rows where ``sample_col == sample_a`` are A,
    every other non-NULL sample is B; keys missing either sample report
    NULL d_plus/d_minus/kuiper_v.

    Cross-engine determinism: cell and cumulative counts are exact
    integers; each per-cell gap ``cca/na - ccb/nb`` is a fixed IEEE
    chain on exact operands, pinned at 9dp BEFORE the max (so both
    engines agree on the argmax cell); the pooled last cell always has
    gap 0, so D+ and D- are >= 0 by construction; V is one addition of
    pinned maxima, rounded at 6.

    Scale shape: the shared staging — one (key, value) cell aggregate,
    one key-partitioned ordered window + one key-total window sharing
    the exchange — then one final per-key aggregate. Returns
    ``(key, n_a, n_b, d_plus, d_minus, kuiper_v)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no drift-test surface);
    same bucketed-cells contract as the rest of this module.
    """
    cells = _ecdf_cells(df, key_col, sample_col, value_col, sample_a)
    # try_divide: a key missing one sample has na or nb = 0 — NULL rides
    # to the fail-closed guard instead of raising (the wasserstein_1 fix)
    gap = F.round(
        F.try_divide(F.col("__cca").cast("double"), F.col("__na"))
        - F.try_divide(F.col("__ccb").cast("double"), F.col("__nb"))
        + F.lit(1e-12),
        9,
    )
    dp, dm = F.col("__dp"), F.col("__dm")
    return _ecdf_per_key(
        cells,
        key_col,
        {"d_plus": dp, "d_minus": dm, "kuiper_v": dp + dm},
        __dp=F.max(gap),
        __dm=F.max(-gap),
    )


def anderson_darling_2s(
    df: DataFrame,
    key_col: str,
    sample_col: str,
    value_col: str,
    sample_a,
) -> DataFrame:
    """Per-key two-sample Anderson-Darling statistic (Scholz-Stephens
    midrank/tie-adjusted form, the k = 2 case) — the TAIL-WEIGHTED
    member of the empirical-CDF drift family: CvM weights squared CDF
    gaps by pooled mass, AD additionally divides by ``H(1-H)``, blowing
    up the weight where the pooled CDF is near 0 or 1, so a drift that
    lives in the tails (where KS/CvM barely move) dominates AD. With L
    pooled distinct values, cell counts l_j, mid-cumulative pooled
    count B_j = (cum_j + cum_{j-1})/2 and per-sample mid-cumulative
    M_sj:

        A2 = (N-1)/N * sum_{s in {A,B}} (1/n_s) *
             sum_j (l_j/N) * (N*M_sj - n_s*B_j)^2
                          / (B_j*(N-B_j) - N*l_j/4)

    (the scipy ``anderson_ksamp(midrank=True)`` statistic for two
    samples). Values ~1 under identity; the standardized version needs
    the variance table and is one scalar lookup away.

    Sample split, NULL/NaN exclusion, and the fail-closed contract
    come from the shared staging
    (:func:`~mr_dice_spark.operators.ranks.two_sample_cells` through
    :func:`_ecdf_cells`): keys missing either sample — or with a single
    pooled distinct value (every denominator 0) — report NULL ad.

    Cross-engine determinism: all mid-cumulatives are half-integers,
    carried DOUBLED as exact longs (2B_j = 2 cum_j - l_j = ``__r2 - 1``,
    2M_sj = 2 cum_sj - l_sj — the rank_cells doubling); each cell
    term is one fixed IEEE chain on exact integer-valued doubles
    (``l * (N*2M - n*2B)^2 / (2B*(2N-2B) - N*l) / N`` — the doubled
    numerator and denominator carry the same factor 4), pinned at 9dp,
    summed as exact decimal(19,9); the closing scale is one
    multiply/divide chain on exact counts, rounded at 6.

    Scale shape: the shared staging — one (key, value) cell aggregate,
    ordered + key-total windows on one key exchange — then one final
    per-key aggregate. Returns ``(key, n_a, n_b, ad)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no drift-test
    surface).
    """
    cells = _ecdf_cells(df, key_col, sample_col, value_col, sample_a)
    n_d = F.col("__nn").cast("double")
    l_d = F.col("__t").cast("double")
    # doubled mid-cumulatives: 2B = 2 cum - l = __r2 - 1 (pooled),
    # 2M_a = 2 (strict_a + l_a) - l_a = 2 strict_a + l_a
    b2 = (F.col("__r2") - 1).cast("double")
    ma2 = 2 * F.col("__clta") + F.col("__ta")
    mb2 = 2 * F.col("__ccb") - F.col("__tb")
    # doubled-form denominator: 4*(B(N-B) - N*l/4) = 2B(2N-2B) - N*l
    den = b2 * (2.0 * n_d - b2) - n_d * l_d

    def _term(m2, ns):
        # doubled-form numerator: 4*(N*M - n*B)^2 carries the same 4
        d = n_d * m2.cast("double") - ns.cast("double") * b2
        return F.round(
            F.try_divide(l_d * d * d, den) / n_d + F.lit(1e-12), 9
        )

    term_a = _term(ma2, F.col("__na"))
    term_b = _term(mb2, F.col("__nb"))
    return _ecdf_per_key(
        cells,
        key_col,
        # a NULL __sa/__sb (every denominator 0: a single pooled
        # distinct value) propagates to a NULL ad
        {
            "ad": (n_d - 1.0)
            / n_d
            * (
                F.col("__sa") / F.col("__na").cast("double")
                + F.col("__sb") / F.col("__nb").cast("double")
            )
        },
        __nn=F.max("__nn"),
        __sa=F.sum(term_a.cast("decimal(19,9)")).cast("double"),
        __sb=F.sum(term_b.cast("decimal(19,9)")).cast("double"),
    )


def cox_stuart_trend(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key Cox-Stuart trend test — the assumption-free sign test
    for monotone trend: pair the first half of the x-ordered series
    with the second half (``(y_i, y_{i+c})`` for ``i = 1..floor(n/2)``
    with offset ``c = ceil(n/2)``; the middle point of an odd series
    is unused), count pairs that rose vs fell (ties drop), and

        z = (n_pos - n_neg) / sqrt(n_pos + n_neg)

    — the binomial normal approximation, positive under rising trend.
    The robustness end of the trend family: :func:`mann_kendall_trend`
    uses all O(n^2) pair information (more power, more machinery),
    Cox-Stuart survives anything monotone with n/2 coarse signs — the
    quick screen review checklists ask for by name.

    Bucketed-series contract (the ljung_box convention): (key, x, y)
    with x unique per key (x-ties fail closed: NULL z; validated with
    the lag tie flag), NULL rows excluded. Keys with every pair tied
    report NULL z (fail-closed); counts still report. Keys with n < 2
    have no pairs at all and are DROPPED from the output (the hurst_rs
    fail-empty convention; the oracle agrees).

    Cross-engine determinism: the pairing permutation is pinned by the
    x total order (row_number under x-unique input); pos/neg are exact
    integers; z is one fixed IEEE chain on exact counts, rounded at 6.

    Scale shape: one key exchange (row_number + count + tie flag share
    it), one (key, pair) hash aggregate of the bounded pair cells, one
    per-key aggregate — no join, no Python. Returns ``(key, n,
    n_pairs, n_pos, n_neg, z)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no trend-test
    surface).
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_ord = Window.partitionBy("__k").orderBy("__x")
    indexed = base.select(
        "__k",
        "__y",
        F.row_number().over(w_ord).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.max(
            F.when(F.lag("__x").over(w_ord) == F.col("__x"), 1).otherwise(0)
        )
        .over(w_all)
        .alias("__ties"),
    )
    m = F.floor(F.col("__n") / 2)  # pairs
    c = F.col("__n") - m  # offset = ceil(n/2)
    pair_id = F.when(F.col("__rn") <= m, F.col("__rn")).when(
        F.col("__rn") > c, F.col("__rn") - c
    )
    paired = indexed.select(
        "__k",
        "__n",
        "__ties",
        pair_id.alias("__p"),
        F.when(F.col("__rn") <= m, F.col("__y")).alias("__first"),
        F.when(F.col("__rn") > c, F.col("__y")).alias("__second"),
    ).where(F.col("__p").isNotNull())
    pairs = paired.groupBy("__k", "__p").agg(
        F.max("__n").alias("__n"),
        F.max("__ties").alias("__ties"),
        F.max("__first").alias("__f"),
        F.max("__second").alias("__s"),
    )
    out = pairs.groupBy("__k").agg(
        F.max("__n").alias("__cnt"),
        F.max("__ties").alias("__t"),
        F.count(F.lit(1)).alias("__pairs"),
        F.count_if(F.col("__s") > F.col("__f")).alias("__pos"),
        F.count_if(F.col("__s") < F.col("__f")).alias("__neg"),
    )
    eff = (F.col("__pos") + F.col("__neg")).cast("double")
    z = F.when(
        (F.col("__t") == 0) & (eff > 0),
        (F.col("__pos") - F.col("__neg")).cast("double") / F.sqrt(eff),
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__cnt").cast("long").alias("n"),
        F.col("__pairs").cast("long").alias("n_pairs"),
        F.col("__pos").cast("long").alias("n_pos"),
        F.col("__neg").cast("long").alias("n_neg"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )


def theils_u2(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    season: int = 24,
) -> DataFrame:
    """Per-key Theil's U2 of the seasonal-naive forecast against the
    random-walk (lag-1 naive) benchmark on a bucketed series:

        U2 = sqrt( sum_t (y_t - y_{t-season})^2
                 / sum_t (y_t - y_{t-1})^2 )

    over the buckets where BOTH lags exist (row lags on the x order —
    the caller feeds a regular bucket grid, the
    :func:`seasonal_naive_backtest` contract). U2 < 1 means the
    seasonal forecast beats persistence — the one-number answer to
    'is there exploitable seasonality' that completes the forecast
    family (:func:`seasonal_naive_backtest` gives MAE/RMSE,
    :func:`pinball_forecast_loss` the quantile loss; U2 is the
    benchmark-relative score forecasting reviews quote).

    Bucketed-series contract: (key, bucket_x, quantized y), x unique
    per key (ties fail closed via the lag tie flag), NULL rows
    excluded. Keys with fewer than season+1 buckets (no scored rows)
    or a zero naive denominator (the tail is constant) report NULL u2;
    n_scored still reports.

    Cross-engine determinism: both squared-error terms are fixed IEEE
    chains on 6dp-grid values, pinned at 9dp per row, summed as exact
    decimal(19,9) (the durbin_watson convention); U2 is one
    divide+sqrt on the exact sums, rounded at 6.

    Scale shape: ONE key exchange — both lags and the tie flag ride
    the same (key) x-ordered window, one closing per-key aggregate.
    Returns ``(key, n, n_scored, u2)``.

    Reference parity note: beyond-reference statistics extension (the
    reference engine at NingWang-art/Mr-Dice has no forecast-accuracy
    surface).
    """
    if season < 2:
        raise ValueError(f"theils_u2: season must be >= 2, got {season}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_ord = Window.partitionBy("__k").orderBy("__x")
    staged = base.select(
        "__k",
        "__y",
        F.lag("__y", 1).over(w_ord).alias("__p1"),
        F.lag("__y", int(season)).over(w_ord).alias("__ps"),
        F.when(F.lag("__x").over(w_ord) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie"),
    )
    es = F.col("__y") - F.col("__ps")
    e1 = F.col("__y") - F.col("__p1")
    scored = F.col("__ps").isNotNull() & F.col("__p1").isNotNull()
    t_num = F.when(scored, F.round(es * es + F.lit(1e-12), 9))
    t_den = F.when(scored, F.round(e1 * e1 + F.lit(1e-12), 9))
    out = staged.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("__tie").alias("__ties"),
        F.count(F.when(scored, F.lit(1))).alias("__ns"),
        F.sum(t_num.cast("decimal(19,9)")).cast("double").alias("__sn"),
        F.sum(t_den.cast("decimal(19,9)")).cast("double").alias("__sd"),
    )
    u2 = F.when(
        (F.col("__ties") == 0) & (F.col("__ns") > 0) & (F.col("__sd") > 0),
        F.sqrt(F.col("__sn") / F.col("__sd")),
    )
    return out.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n"),
        F.col("__ns").cast("long").alias("n_scored"),
        F.round(u2 + F.lit(1e-9), 6).alias("u2"),
    )


def pacf_by_lag(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key partial autocorrelation at lags 1-3 (with the acf beside
    it) — the ORDER-IDENTIFICATION readout :func:`ljung_box` (is
    anything left?) and :func:`autocorrelation_by_lag` (screening acf)
    don't give: pacf_h is the correlation at lag h AFTER removing the
    shorter lags, so the lag where it cuts off is the AR order. Uses
    the same TEXTBOOK full-denominator acf as ljung_box, then the
    Durbin-Levinson recursion UNROLLED to closed forms:

        pacf_1 = r1
        pacf_2 = (r2 - r1^2) / (1 - r1^2)
        pacf_3 = (r3 - phi21 r2 - pacf_2 r1)
                 / (1 - phi21 r1 - pacf_2 r2),  phi21 = r1 - pacf_2 r1

    The depth is FIXED at 3 by design: the unrolled forms are
    engine-invariant closed arithmetic on pinned acf values, where a
    general-depth recursion needs per-key iterative state (a pandas
    UDF) for marginal identification value beyond AR(3).

    Bucketed-series contract (the ljung_box convention verbatim):
    (key, bucket_x, quantized y) with x unique per key; NULL rows
    excluded; x-ties fail closed; keys with n <= 3 points or zero
    variance report NULL acf/pacf at every lag; a zero Durbin-Levinson
    denominator NULLs that lag (and lag 3 if lag 2 is NULL).

    Cross-engine determinism: decimal mean, 9dp-pinned deviations,
    decimal lag-product sums, each acf and each pacf pinned at 9dp
    before reuse; outputs round at 6.

    Scale shape: ljung_box's exact single exchange — scan ->
    shuffle(key) -> lag windows (3 lags in one pass) -> closing
    aggregate -> a 3-row stack per key. Returns ``(key, n, lag, acf,
    pacf)``, 3 rows per key.
    """
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_lag = Window.partitionBy("__k").orderBy("__x")
    yd = F.col("__y").cast("decimal(16,6)")
    mean = F.round(
        F.sum(yd).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all).cast("double")
        + F.lit(1e-12),
        9,
    )
    dev = base.select(
        "__k",
        "__x",
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.round(F.col("__y") - mean + F.lit(1e-12), 9).alias("__d"),
        F.when(F.lag("__x").over(w_lag) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie"),
    )
    lagged = dev.select(
        "__k",
        "__n",
        "__tie",
        "__d",
        *[F.lag("__d", h).over(w_lag).alias(f"__d{h}") for h in (1, 2, 3)],
    )
    ddec = F.col("__d").cast("decimal(18,9)")
    per_key = lagged.groupBy("__k").agg(
        F.max("__n").alias("__cnt"),
        F.max("__tie").alias("__ties"),
        F.sum(ddec * ddec).cast("double").alias("__ss"),
        *[
            F.sum(ddec * F.col(f"__d{h}").cast("decimal(18,9)"))
            .cast("double")
            .alias(f"__c{h}")
            for h in (1, 2, 3)
        ],
    )
    ok = (
        (F.col("__cnt") > 3) & (F.col("__ties") == 0) & (F.col("__ss") > 0)
    )
    rs = {
        h: F.when(
            ok, F.round(F.col(f"__c{h}") / F.col("__ss") + F.lit(1e-12), 9)
        )
        for h in (1, 2, 3)
    }
    scored = per_key.select(
        "__k",
        "__cnt",
        rs[1].alias("__r1"),
        rs[2].alias("__r2"),
        rs[3].alias("__r3"),
    )
    r1, r2, r3 = F.col("__r1"), F.col("__r2"), F.col("__r3")
    den2 = F.lit(1.0) - r1 * r1
    p2 = F.when(
        den2 != 0, F.round((r2 - r1 * r1) / den2 + F.lit(1e-12), 9)
    )
    f21 = F.round(r1 - p2 * r1 + F.lit(1e-12), 9)
    den3 = F.lit(1.0) - f21 * r1 - p2 * r2
    p3 = F.when(
        den3 != 0,
        F.round((r3 - f21 * r2 - p2 * r1) / den3 + F.lit(1e-12), 9),
    )
    wide = scored.select(
        "__k",
        "__cnt",
        "__r1",
        "__r2",
        "__r3",
        r1.alias("__p1"),
        p2.alias("__p2"),
        p3.alias("__p3"),
    )
    stacked = wide.select(
        "__k",
        "__cnt",
        F.expr(
            "stack(3, CAST(1 AS BIGINT), __r1, __p1,"
            "         CAST(2 AS BIGINT), __r2, __p2,"
            "         CAST(3 AS BIGINT), __r3, __p3)"
        ).alias("lag", "__acf", "__pacf"),
    )
    return stacked.select(
        F.col("__k").alias(key_col),
        F.col("__cnt").cast("long").alias("n"),
        "lag",
        F.round(F.col("__acf") + F.lit(1e-9), 6).alias("acf"),
        F.round(F.col("__pacf") + F.lit(1e-9), 6).alias("pacf"),
    )


def hurst_rs(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    block_sizes: tuple = (8, 16, 32, 64),
) -> DataFrame:
    """Per-key Hurst exponent by rescaled-range (R/S) analysis — the
    long-memory readout the acf family can't give: H ~ 0.5 is a
    random walk's increments, H > 0.5 persistent (trends feed
    themselves), H < 0.5 anti-persistent (mean-reverting). For each
    block size s in the ladder, the ordered series splits into
    COMPLETE consecutive blocks; per block the rescaled range is

        R/S = (max_i Z_i - min_i Z_i) / sd_pop,
        Z_i = sum_{j<=i} (y_j - ybar_block),  i = 1..s

    (population sd; Z over i = 1..s, without the implicit leading
    zero — documented convention), and H is the least-squares slope of
    log2(mean R/S per scale) against log2(s) over the ladder points
    with positive mean.

    Bucketed-series contract (the ljung_box convention): (key, x, y)
    with x unique per key, NULL rows excluded, x-ties fail closed
    (NULL hurst); ordering follows x ORDER, not x arithmetic. Keys
    with fewer than 2 usable ladder points (every block constant, or
    n < 2 * block_sizes[1]) report NULL hurst — EXCEPT keys with
    n < block_sizes[0] (no complete block at ANY scale), which are
    DROPPED from the output entirely: the complete-block filter is
    what bounds the state, and a key that never fills one block has
    no per-scale row to hang a NULL on (the per-group top-k
    fail-empty convention; the oracle agrees).

    Cross-engine determinism: block means pin at 9dp over decimal
    sums; Z_i = cum_i - i * mean is a fixed IEEE chain on exact
    cumulative decimals and the pinned mean, pinned at 9dp; sd from
    decimal power sums, pinned; R/S pins at 9dp; per-scale means and
    both log2 values pin at 9dp (absorbing any last-ulp libm gap
    between engines); the closing slope is closed-form least squares
    on <= len(block_sizes) pinned points, rounded at 6.

    Scale shape: ONE exchange on the key — row_number + tie flag on
    the key sort, a bounded explode (x len(block_sizes)), block
    windows whose (key, s, block) clustering is satisfied by the key
    partitioning (Spark adds a sort, not a shuffle), a filter to one
    row per complete block, and two key-clustered aggregates. Returns
    ``(key, n, n_scales, hurst)``.
    """
    sizes = tuple(int(s) for s in block_sizes)
    if len(sizes) < 2 or sorted(set(sizes)) != list(sizes) or sizes[0] < 2:
        raise ValueError(
            f"hurst_rs: block_sizes must be >= 2 distinct ascending sizes"
            f" with min >= 2, got {block_sizes}"
        )
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_ord = Window.partitionBy("__k").orderBy("__x")
    indexed = base.select(
        "__k",
        "__y",
        (F.row_number().over(w_ord) - 1).alias("__i"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.max(
            F.when(F.lag("__x").over(w_ord) == F.col("__x"), 1).otherwise(0)
        )
        .over(w_all)
        .alias("__ties"),
    )
    sized = indexed.withColumn(
        "__s", F.explode(F.array(*[F.lit(s) for s in sizes]))
    ).withColumn("__b", F.floor(F.col("__i") / F.col("__s")))
    w_blk = Window.partitionBy("__k", "__s", "__b")
    w_run = (
        Window.partitionBy("__k", "__s", "__b")
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    yd = F.col("__y").cast("decimal(16,6)")
    m = F.count(F.lit(1)).over(w_blk)
    mean = F.round(
        F.sum(yd).over(w_blk).cast("double") / m.cast("double")
        + F.lit(1e-12),
        9,
    )
    s2 = F.sum(yd * yd).over(w_blk).cast("double")
    var_pop = F.round(
        s2 / m.cast("double") - mean * mean + F.lit(1e-12), 9
    )
    ri = F.row_number().over(
        Window.partitionBy("__k", "__s", "__b").orderBy("__i")
    )
    cum = F.sum(yd).over(w_run).cast("double")
    dev = F.round(cum - ri.cast("double") * mean + F.lit(1e-12), 9)
    staged = sized.select(
        "__k",
        "__n",
        "__ties",
        "__s",
        "__b",
        m.alias("__m"),
        ri.alias("__ri"),
        var_pop.alias("__var"),
        (F.max(dev).over(w_blk) - F.min(dev).over(w_blk)).alias("__r"),
    )
    rs = F.when(
        (F.col("__m") == F.col("__s")) & (F.col("__var") > 0),
        F.round(
            F.col("__r")
            / F.round(F.sqrt(F.col("__var")) + F.lit(1e-12), 9)
            + F.lit(1e-12),
            9,
        ),
    )
    # one row per COMPLETE block (__ri == __s implies __m == __s)
    blocks = staged.where(F.col("__ri") == F.col("__s")).select(
        "__k", "__n", "__ties", "__s", rs.alias("__rs")
    )
    per_scale = blocks.groupBy("__k", "__s").agg(
        F.max("__n").alias("__n"),
        F.max("__ties").alias("__ties"),
        F.count_if(F.col("__rs").isNotNull()).alias("__nb"),
        F.sum(F.col("__rs").cast("decimal(18,9)")).cast("double").alias(
            "__srs"
        ),
    )
    mean_rs = F.when(
        F.col("__nb") > 0,
        F.round(
            F.col("__srs") / F.col("__nb").cast("double") + F.lit(1e-12), 9
        ),
    )
    pts = per_scale.select(
        "__k",
        "__n",
        "__ties",
        F.round(F.log(2.0, F.col("__s").cast("double")) + F.lit(1e-12), 9).alias(
            "__lx"
        ),
        F.when(
            mean_rs > 0,
            F.round(F.log(2.0, mean_rs) + F.lit(1e-12), 9),
        ).alias("__ly"),
    )
    usable = F.col("__ly").isNotNull()
    lxd = F.when(usable, F.col("__lx")).cast("decimal(18,9)")
    lyd = F.col("__ly").cast("decimal(18,9)")
    fit = pts.groupBy("__k").agg(
        F.max("__n").alias("__cnt"),
        F.max("__ties").alias("__t"),
        F.count_if(usable).alias("__np"),
        F.sum(lxd).cast("double").alias("__sx"),
        F.sum(lyd).cast("double").alias("__sy"),
        F.sum(lxd * lxd).cast("double").alias("__sxx"),
        F.sum(lxd * lyd).cast("double").alias("__sxy"),
    )
    np_d = F.col("__np").cast("double")
    den = np_d * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    h = F.when(
        (F.col("__np") >= 2) & (F.col("__t") == 0) & (den != 0),
        (np_d * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / den,
    )
    return fit.select(
        F.col("__k").alias(key_col),
        F.col("__cnt").cast("long").alias("n"),
        F.col("__np").cast("long").alias("n_scales"),
        F.round(h + F.lit(1e-9), 6).alias("hurst"),
    )


def dispersion_index(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
) -> DataFrame:
    """Per-key index of dispersion (variance-to-mean ratio) of the
    per-bucket COUNT series — the Poisson-ness screen for arrival
    counts: VMR ~ 1 is Poisson traffic, > 1 overdispersed (bursts,
    contagion — the usual truth about event streams), < 1
    underdispersed (throttled/regular). Reports ``chi2 = (n-1) * VMR``
    (~ chi-square(n-1) under the Poisson null) beside the ratio, so
    the readout is test-shaped like its neighbours.

    Counts come from the rows themselves (one row = one arrival):
    buckets with zero arrivals never appear, so dispersion is measured
    over OBSERVED buckets — callers wanting the closed grid resample
    first (:func:`resample_ffill` exists for exactly that). NULL
    key/bucket rows are excluded; keys with n < 2 buckets report NULL
    vmr/chi2 (fail-closed).

    Cross-engine determinism: bucket counts, their sum, and their sum
    of squares are EXACT INTEGERS end to end — the only floating
    arithmetic is the closing mean/var/ratio chain on exact longs,
    pinned at 9dp and rounded at 6. No decimal casts needed: this is
    the one statistic in the family with nothing to pin upstream.

    Scale shape: one (key, bucket) count aggregate, one per-key
    power-sum aggregate riding the same key clustering — two map-side
    combinable hash aggregates, no window, no join. Returns ``(key,
    n_buckets, total, vmr, chi2, dof)``.
    """
    base = df.select(
        F.col(key_col).alias("__k"), F.col(bucket_col).alias("__b")
    ).where(F.col(key_col).isNotNull() & F.col(bucket_col).isNotNull())
    counts = base.groupBy("__k", "__b").agg(F.count(F.lit(1)).alias("__c"))
    per_key = counts.groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__c").alias("__s1"),
        F.sum(F.col("__c") * F.col("__c")).alias("__s2"),
    )
    n_d = F.col("__n").cast("double")
    s1_d = F.col("__s1").cast("double")
    s2_d = F.col("__s2").cast("double")
    mean = F.round(s1_d / n_d + F.lit(1e-12), 9)
    var = F.round(
        (s2_d - s1_d * s1_d / n_d) / (n_d - 1.0) + F.lit(1e-12), 9
    )
    vmr = F.when(
        (F.col("__n") >= 2) & (mean > 0),
        F.round(var / mean + F.lit(1e-12), 9),
    )
    return per_key.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n_buckets"),
        F.col("__s1").cast("long").alias("total"),
        F.round(vmr + F.lit(1e-9), 6).alias("vmr"),
        F.round((n_d - 1.0) * vmr + F.lit(1e-9), 6).alias("chi2"),
        F.when(vmr.isNotNull(), F.col("__n") - 1).cast("long").alias("dof"),
    )


def hampel_outliers(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    half_window: int = 3,
    threshold: float = 3.5,
) -> DataFrame:
    """Hampel filter over the bucketed series: per bucket, the exact
    median and MAD of the ``2*half_window + 1`` buckets around it, and
    the robust z ``0.6745 (v - med) / mad`` — the ROLLING outlier
    screen beside the global :func:`mr_dice_spark.operators.robust.
    mad_outlier_flags` (a level shift makes late points 'outliers'
    against a global median; the Hampel window compares each point to
    its NEIGHBOURHOOD, the standard spike detector before smoothing).

    Only COMPLETE windows are screened: edge buckets (fewer than
    2k+1 neighbours) and zero-MAD windows (constant majority) report
    NULL med/mad/robust_z/outlier — 'not screened' is not 'not an
    outlier' (deliberately stricter than mad_outlier_flags' False).

    Cross-engine determinism: bucket means quantize at 6dp before the
    window; the window materializes as a SORTED ARRAY and the median
    is the exact middle ELEMENT (odd window, no interpolation — where
    :func:`rolling_median` interpolates); MAD is the middle element of
    the sorted |v - med| array (fixed IEEE ops on identical doubles);
    z rounds at 4 (the mad_outlier_flags convention).

    Scale shape: one (key, bucket) aggregate, ONE key-partitioned
    window collecting 2k+1 elements per row (state O(window) per row,
    corpus-independent), then pure per-row array arithmetic — no
    second window, no join, no Python. Returns ``(key, bucket, value,
    med, mad, robust_z, outlier)``.
    """
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    ).select(
        "__k", "__h", F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v")
    )
    return hampel_from_buckets(b, key_col, half_window, threshold)


def hampel_from_buckets(
    b: DataFrame,
    key_col: str,
    half_window: int = 3,
    threshold: float = 3.5,
) -> DataFrame:
    """Hampel finisher over a pre-bucketed ``(__k, __h, __v)`` frame
    (quantized values) — the shared tail of :func:`hampel_outliers`
    and the streaming monitor (bucket means aggregated ON the stream
    engine, this batch finisher on the materialized sink — the
    cusum_from_buckets convention)."""
    if half_window < 1:
        raise ValueError(f"hampel_outliers: half_window must be >= 1, got {half_window}")
    if threshold <= 0:
        raise ValueError(f"hampel_outliers: threshold must be > 0, got {threshold}")
    w = (
        Window.partitionBy("__k")
        .orderBy("__h")
        .rowsBetween(-half_window, half_window)
    )
    staged = b.select(
        "__k",
        "__h",
        "__v",
        F.sort_array(F.collect_list("__v").over(w)).alias("__arr"),
    )
    mid = half_window + 1  # 1-based middle of a complete window
    full = F.size(F.col("__arr")) == 2 * half_window + 1
    med = F.element_at(F.col("__arr"), mid)
    mad = F.element_at(
        F.sort_array(
            F.transform(F.col("__arr"), lambda x: F.abs(x - med))
        ),
        mid,
    )
    # 0.6745 ~ Phi^-1(3/4): scales MAD to sd units (the robust.py _MAD_K)
    z = F.when(
        full & (mad > 0),
        F.round(
            F.lit(0.6745) * (F.col("__v") - med) / mad + F.lit(1e-9), 4
        ),
    )
    return staged.select(
        F.col("__k").alias(key_col),
        F.col("__h").alias("bucket"),
        F.col("__v").alias("value"),
        F.when(full, med).alias("med"),
        F.when(full, mad).alias("mad"),
        z.alias("robust_z"),
        F.when(full & (mad > 0), F.abs(z) > F.lit(threshold)).alias(
            "outlier"
        ),
    )


def kpss_level_stat(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    n_lags: int = 4,
) -> DataFrame:
    """Per-key KPSS level-stationarity statistic — the missing half of
    the unit-root conversation: :func:`mann_kendall_trend` and
    :func:`theil_sen_trend` ask 'is there a trend', KPSS asks the
    sharper modelling question 'is LEVEL-stationarity tenable at all'
    (null = stationary, so a LARGE statistic rejects — opposite
    polarity to ADF-style tests):

        e_t  = y_t - ybar,   S_t = sum_{i<=t} e_i
        eta  = sum_t S_t^2 / (n^2 * lrv)
        lrv  = g_0 + 2 sum_{h=1..q} (1 - h/(q+1)) g_h     (Bartlett)
        g_h  = sum_{t>h} e_t e_{t-h} / n

    Asymptotic 5% critical value for the level case is 0.463 — the
    caller compares (no distribution tables shipped, the grubbs
    convention).

    Bucketed-series contract (the ljung_box convention verbatim):
    (key, bucket_x, quantized y) with x unique per key; NULL rows
    excluded; x-ties fail closed; keys with ``n <= n_lags`` points or
    a non-positive long-run variance report NULL kpss (fail-closed).

    Cross-engine determinism: decimal mean pinned at 9dp; deviations
    re-quantized at 9dp; lag cross-sums and the cumulative S_t are
    decimal sums of exact operands; each g_h and the lrv pin at 9dp;
    sum of S_t^2 is a decimal sum of exact squares; eta is one fixed
    chain, rounded at 6.

    Scale shape: ljung_box's single exchange plus the S_t cumulative —
    the mean/lag/cumulative windows ALL partition on the key: scan ->
    shuffle(key) -> windows -> one closing aggregate. Returns ``(key,
    n, n_lags, lrv, kpss)``.
    """
    if n_lags < 0:
        raise ValueError(f"kpss_level_stat: n_lags must be >= 0, got {n_lags}")
    base = df.select(
        F.col(key_col).alias("__k"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).where(
        F.col(key_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    w_all = Window.partitionBy("__k")
    w_ord = Window.partitionBy("__k").orderBy("__x")
    w_run = (
        Window.partitionBy("__k")
        .orderBy("__x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    yd = F.col("__y").cast("decimal(16,6)")
    mean = F.round(
        F.sum(yd).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all).cast("double")
        + F.lit(1e-12),
        9,
    )
    dev = base.select(
        "__k",
        "__x",
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.round(F.col("__y") - mean + F.lit(1e-12), 9).alias("__d"),
        F.when(F.lag("__x").over(w_ord) == F.col("__x"), 1)
        .otherwise(0)
        .alias("__tie"),
    )
    ddec = F.col("__d").cast("decimal(18,9)")
    lag_cols = [
        F.lag("__d", h).over(w_ord).alias(f"__d{h}")
        for h in range(1, n_lags + 1)
    ]
    staged = dev.select(
        "__k",
        "__n",
        "__tie",
        "__d",
        F.sum(ddec).over(w_run).cast("double").alias("__s"),
        *lag_cols,
    )
    # decimal(18,9), NOT (19,9): the square of a (19,9) has precision 39,
    # which exceeds Spark's 38-digit cap and silently rounds to (38,17),
    # while DuckDB's product stays exact — a cross-engine last-ulp gap in
    # __ss2 (round-10 ADVICE). At (18,9) the square is exact (37,18) in
    # both engines. Documented headroom: |S_t| < 1e9 (the ddec convention).
    sdec = F.col("__s").cast("decimal(18,9)")
    aggs = [
        F.max("__n").alias("__cnt"),
        F.max("__tie").alias("__ties"),
        F.sum(ddec * ddec).cast("double").alias("__g0"),
        F.sum(sdec * sdec).cast("double").alias("__ss2"),
    ]
    for h in range(1, n_lags + 1):
        aggs.append(
            F.sum(ddec * F.col(f"__d{h}").cast("decimal(18,9)"))
            .cast("double")
            .alias(f"__c{h}")
        )
    per_key = staged.groupBy("__k").agg(*aggs)
    n_d = F.col("__cnt").cast("double")
    lrv = F.round(F.col("__g0") / n_d + F.lit(1e-12), 9)
    for h in range(1, n_lags + 1):
        w_h = 1.0 - h / (n_lags + 1.0)
        lrv = lrv + F.lit(2.0 * w_h) * F.round(
            F.col(f"__c{h}") / n_d + F.lit(1e-12), 9
        )
    lrv = F.round(lrv + F.lit(1e-12), 9)
    ok = (
        (F.col("__cnt") > n_lags) & (F.col("__ties") == 0) & (lrv > 0)
    )
    eta = F.when(ok, F.col("__ss2") / (n_d * n_d * lrv))
    return per_key.select(
        F.col("__k").alias(key_col),
        F.col("__cnt").cast("long").alias("n"),
        F.lit(int(n_lags)).cast("long").alias("n_lags"),
        F.round(F.when(ok, lrv) + F.lit(1e-9), 6).alias("lrv"),
        F.round(eta + F.lit(1e-9), 6).alias("kpss"),
    )


def pettitt_change_point(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 86400,
) -> DataFrame:
    """Pettitt (1979) rank-based single change-point test per key —
    the NONPARAMETRIC "did the level shift, and WHERE" beside
    :func:`best_changepoint` (L2 cost: means and sums of squares, so
    one heavy-tailed bucket can buy the split) and the sequential
    alarms (:func:`cusum_from_buckets` / :func:`page_hinkley`). On
    rank-transformed data a single outlier moves the statistic by at
    most its rank displacement — the robust retrospective screen for
    "this metric's distribution changed mid-month".

    For the bucketed series x_1..x_n in time order,

        U_t = sum_{i<=t} sum_{j>t} sgn(x_i - x_j)
            = sum_{i<=t} 2 r_i  -  t (n + 1)

    (r_i the pooled MIDRANK of x_i — the identity that turns the
    O(n^2) pair sum into a cumulative sum over ranks), K = max_{1<=t<n}
    |U_t|, change point at the SMALLEST argmax t, and the standard
    approximate significance p ~ min(1, 2 exp(-6 K^2 / (n^3 + n^2))).

    Cross-engine determinism: bucket means quantize at 6dp; doubled
    midranks ``2r = 2 RANK() + ties - 1`` keep every U_t an EXACT
    integer (the mann_whitney doubled-rank discipline), so K, the
    argmax, and u_at_cp are exact longs; p is the only float — one
    fixed IEEE chain on exact operands into exp (libm, 1-ulp class),
    pinned at 9dp before the 6dp output round. Keys with n < 2 report
    NULL k_stat/cp/p but KEEP their row (fail-closed, the hurst_rs
    amendment — no silent key drops).

    Scale shape: one (key, bucket) aggregate, then ONE
    HashPartitioning(key) exchange that every window rides via the
    subset rule — rank-by-value, tie counts, row_number and the
    cumulative rank sum are sorts on that exchange, not new shuffles —
    and one per-key reduce whose lexicographic ``max(struct(|U|, -t))``
    picks K and breaks ties on the smallest t in a single pass. State
    is O(1) per row; no pair join anywhere. Returns ``(key, n, k_stat,
    cp_index, cp_bucket, u_at_cp, p_approx)``.
    """
    b = _bucket_agg(
        df.where(F.col(value_col).isNotNull()),
        key_col, ts_col, value_col, step_seconds, "avg",
    ).select(
        "__k", "__h", F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v")
    )
    return pettitt_from_buckets(b, key_col)


def pettitt_from_buckets(b: DataFrame, key_col: str) -> DataFrame:
    """Pettitt finisher over a pre-bucketed ``(__k, __h, __v)`` frame
    (quantized values) — the shared tail of :func:`pettitt_change_point`
    and any stream-materialized bucket sink (the cusum_from_buckets
    convention)."""
    w_rank = Window.partitionBy("__k").orderBy("__v")
    w_eq = Window.partitionBy("__k", "__v")
    w_key = Window.partitionBy("__k")
    w_ord = Window.partitionBy("__k").orderBy("__h")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = b.select(
        "__k",
        "__h",
        # 2*midrank = 2*(#strictly-less) + #equal + 1 = 2*RANK + #eq - 1
        (
            2 * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_eq)
            - 1
        ).alias("__r2"),
        F.count(F.lit(1)).over(w_key).alias("__n"),
        F.row_number().over(w_ord).alias("__t"),
    )
    u = staged.select(
        "__k",
        "__h",
        "__t",
        "__n",
        (
            F.sum("__r2").over(w_cum).cast("long")
            - F.col("__t").cast("long") * (F.col("__n") + 1)
        ).alias("__u"),
    )
    inner = F.col("__t") < F.col("__n")
    agg = u.groupBy("__k").agg(
        F.max("__n").alias("__nn"),
        # lexicographic struct max: largest |U|, then largest -t
        # (= SMALLEST t) — K, argmax and tie-break in one pass
        F.max(
            F.when(
                inner,
                F.struct(
                    F.abs(F.col("__u")).alias("a"),
                    (-F.col("__t")).cast("long").alias("mt"),
                    F.col("__u").alias("u"),
                    F.col("__h").alias("h"),
                ),
            )
        ).alias("__best"),
    )
    n_d = F.col("__nn").cast("double")
    k_d = F.col("__best.a").cast("double")
    p_raw = F.round(
        2.0 * F.exp(-6.0 * k_d * k_d / (n_d * n_d * n_d + n_d * n_d))
        + F.lit(1e-12),
        9,
    )
    # gate on the struct, not just p_raw: least() SKIPS null operands
    # in both engines, so an ungated least(1.0, NULL) would read 1.0
    # for n < 2 keys instead of the documented fail-closed NULL
    p = F.when(
        F.col("__best").isNotNull(), F.least(F.lit(1.0), p_raw)
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__nn").cast("long").alias("n"),
        F.col("__best.a").alias("k_stat"),
        (-F.col("__best.mt")).cast("long").alias("cp_index"),
        F.col("__best.h").alias("cp_bucket"),
        F.col("__best.u").alias("u_at_cp"),
        F.round(p + F.lit(1e-9), 6).alias("p_approx"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step_seconds: int = 3600,
    period: int = 24,
) -> DataFrame:
    """Per-key SEASONAL Mann-Kendall trend test (Hirsch & Slack 1984)
    — the trend screen for series with a cycle: plain
    :func:`mann_kendall_trend` compares every bucket with every later
    bucket, so a diurnal/weekly cycle drowns (or fakes) a real
    day-over-day drift; the seasonal form compares each bucket ONLY
    with later buckets in the SAME phase (hour-of-day, day-of-week)
    and sums the evidence across phases:

        S' = sum_h S_h,   Var' = sum_h Var_h,
        z  = (S' -+ 1) / sqrt(Var')      (continuity-corrected)

    with each season's tie-corrected ``Var_h = [n_h(n_h-1)(2n_h+5)
    - sum_t t(t-1)(2t+5)] / 18`` (the no-serial-correlation form — the
    standard screen; the covariance-corrected variant is a different,
    heavier estimator).

    Cross-engine determinism: bucket means quantize at 6dp, so every
    sign decision and S_h is an exact integer; ``18 Var'`` is summed
    as EXACT LONGS (each season contributes the integer
    ``n(n-1)(2n+5) - sum tt``) and divided by 18 once — an
    order-independent cross-season sum where summing per-season
    double variances would wiggle with aggregation order; z is one
    fixed IEEE chain, rounded at 6. NULL z when Var' <= 0 (every
    season constant or under 2 points). Keys survive with NULL stats
    (left join from the bucket-count frame).

    Scale shape: the mann_kendall contract with the pair set CUT BY
    PHASE — O(period * (B/period)^2) pairs per key instead of O(B^2),
    a period-fold FEWER pairs than the plain test on the same grid;
    one bucket aggregate, localCheckpoint-pinned, feeds the pair join,
    the tie cells and the season counts. Returns ``(key, n_buckets,
    n_seasons, s, var_s, z)``.
    """
    if period < 2:
        raise ValueError(
            f"seasonal_mann_kendall: period must be >= 2, got {period}"
        )
    b = (
        _bucket_agg(
            df.where(F.col(value_col).isNotNull()),
            key_col, ts_col, value_col, step_seconds, "avg",
        )
        .select(
            "__k",
            (F.unix_timestamp("__h") / step_seconds).cast("long").alias("__x"),
            F.round(F.col("__v") + F.lit(1e-9), 6).alias("__v"),
        )
        .select(
            "__k",
            "__x",
            # sign-of-dividend % (NOT pmod): DuckDB's % is
            # sign-of-dividend, and phase labels must agree
            # cross-engine for pre-1970 (negative-epoch) buckets too
            (F.col("__x") % F.lit(int(period))).alias("__p"),
            "__v",
        )
        .localCheckpoint(eager=True)
    )
    a, c = b.alias("a"), b.alias("c")
    s = (
        a.join(
            c,
            (F.col("a.__k") == F.col("c.__k"))
            & (F.col("a.__p") == F.col("c.__p"))
            & (F.col("a.__x") < F.col("c.__x")),
        )
        .groupBy(F.col("a.__k").alias("__k"))
        .agg(
            F.sum(
                F.when(F.col("c.__v") > F.col("a.__v"), 1)
                .when(F.col("c.__v") < F.col("a.__v"), -1)
                .otherwise(0)
            ).alias("__s")
        )
    )
    # per-(key, season) tie term sum_t t(t-1)(2t+5): exact longs
    tt = (
        b.groupBy("__k", "__p", "__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .groupBy("__k", "__p")
        .agg(
            F.sum("__t").alias("__nh"),
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            ).alias("__tt"),
        )
    )
    # 18*Var' as one exact long sum across seasons (order-independent)
    var18 = tt.groupBy("__k").agg(
        F.sum("__nh").alias("__n"),
        F.count(F.lit(1)).alias("__np"),
        F.sum(
            F.col("__nh") * (F.col("__nh") - 1) * (2 * F.col("__nh") + 5)
            - F.col("__tt")
        ).alias("__v18"),
    )
    j = var18.join(s, "__k", "left")
    var_s = F.col("__v18").cast("double") / 18.0
    sd = F.col("__s").cast("double")
    z = F.when(
        var_s > 0,
        F.when(F.col("__s") > 0, (sd - 1.0) / F.sqrt(var_s))
        .when(F.col("__s") < 0, (sd + 1.0) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
    )
    return j.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n_buckets"),
        F.col("__np").cast("long").alias("n_seasons"),
        F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("s"),
        F.round(var_s + F.lit(1e-9), 4).alias("var_s"),
        F.round(z + F.lit(1e-9), 6).alias("z"),
    )
